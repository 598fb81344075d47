package graft.analytics

import graft.{Localize, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The four analyses the reference system declares as its reason to exist
  * (SURVEY.md §2.5; reference `app/for_rabbit/from_parser_to_rabbitmq.py:228-240`),
  * re-expressed Spark-first over the driver testdata tables so the DuckDB
  * oracle can verify them:
  *
  *  - A1 volatility over time        (`from_parser_to_rabbitmq.py:228-229`)
  *  - A2 large-trade price impact    (`from_parser_to_rabbitmq.py:231-232`)
  *  - A3 close-price predictability  (`from_parser_to_rabbitmq.py:234-237`)
  *  - A4 bid/ask order imbalance     (`from_parser_to_rabbitmq.py:239-240`)
  *
  * Scale notes (100 TB posture): every analysis partitions by the natural
  * entity key (`user_id` / `l_partkey` / priority) and a coarse time bucket,
  * so the single shuffle per query is on the same key a production table
  * would be bucketed by. Window functions sort within partitions only; no
  * driver-side collect anywhere. Scalar thresholds (A2) are computed as
  * 1-row DataFrames and broadcast, never collected.
  *
  * Determinism notes: window orderings always carry a unique tie-break key;
  * order-dependent double aggregates (stddev, corr) are replayed from exact
  * integer sufficient statistics over fixed-point inputs so every emitted
  * double is a chain of single correctly-rounded IEEE ops; money sums go
  * through lossless DECIMAL casts so Spark and DuckDB agree bit-for-bit.
  */
object Analytics extends QueryPack {

  /** `quantile_cont(q)` from a value-sorted (value, count) histogram: with N
    * total values (1-indexed ranks), interpolates between the values at ranks
    * `floor(h)+1` and `floor(h)+2` where `h = q*(N-1)` — the exact semantics
    * of DuckDB's `quantile_cont` and Spark's `percentile`, but from bounded
    * per-value state instead of an all-rows aggregation buffer.
    */
  private[analytics] val quantileFromHist =
    udf { (hist: Seq[org.apache.spark.sql.Row], q: Double) =>
      val n = hist.iterator.map(_.getLong(1)).sum
      val h = q * (n - 1)
      val k = math.floor(h).toLong
      var cum = 0L
      var vLo = Double.NaN; var vHi = Double.NaN
      val it = hist.iterator
      while (it.hasNext && (vLo.isNaN || vHi.isNaN)) {
        val r = it.next()
        cum += r.getLong(1)
        if (vLo.isNaN && cum > k) vLo = r.getDouble(0)
        if (vHi.isNaN && cum > k + 1) vHi = r.getDouble(0)
      }
      if (vHi.isNaN) vHi = vLo
      vLo + (h - k) * (vHi - vLo)
    }

  /** A1 — per-entity daily return volatility (lag + stddev over tumbling day),
    * labeled with the entity dimension (SURVEY §2.5: every analysis broadcast-
    * joins the companies dim for name/sector). The join runs AFTER the
    * aggregation — the broadcast hash join touches only the reduced
    * (entity, day) relation, never the raw event stream.
    *
    * Cross-engine determinism: `stddev_samp` is a summation-order-dependent
    * double aggregate (and `round(x, 6)` of it was the latent half-up tie
    * class, CLAUDE.md). Instead the return is floored to 1e-5 fixed point
    * (|r5| ≤ 5.6e7 for value ≤ 560, so n·ΣR² ≤ 3.9e17 stays exact in
    * int64 at group size ≤ 11), the group keeps exact integer sufficient
    * statistics, and the stddev is replayed as
    * `sqrt((n·S2 − S1²)/(n·(n−1)))/1e5` — every step a single correctly-
    * rounded IEEE op on exact integers, bit-identical in Spark and DuckDB.
    */
  def volatility(s: SparkSession, dir: String): DataFrame = {
    val ev  = Tables.load(s, dir, "events")
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name").as("name"), col("c_mktsegment").as("sector"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("ret", col("value") - lag("value", 1).over(w))
      .where(col("ret").isNotNull)
      .withColumn("r5", floor(col("ret") * lit(100000)).cast("long"))
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(col("r5")).as("n_returns"),
        sum(col("r5")).as("s1"),
        sum(col("r5") * col("r5")).as("s2"))
      .where(col("n_returns") >= 2)
      .withColumn("volatility",
        sqrt((col("n_returns") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n_returns") * (col("n_returns") - lit(1))).cast("double")) / lit(100000))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("name"), col("sector"), col("day"),
        col("volatility"), col("n_returns"))
  }

  private val volatilitySql =
    """WITH r AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, event_id, value,
      |         value - lag(value) OVER (PARTITION BY user_id
      |                                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS ret
      |  FROM events),
      |q AS (
      |  SELECT user_id, tsv, CAST(floor(ret * 100000) AS BIGINT) AS r5
      |  FROM r WHERE ret IS NOT NULL),
      |v AS (
      |  SELECT user_id, strftime(tsv, '%Y-%m-%d') AS day,
      |         count(*) AS n_returns,
      |         CAST(sum(r5) AS BIGINT) AS s1,
      |         CAST(sum(r5 * r5) AS BIGINT) AS s2
      |  FROM q
      |  GROUP BY user_id, strftime(tsv, '%Y-%m-%d')
      |  HAVING count(*) >= 2)
      |SELECT user_id, c_name AS name, c_mktsegment AS sector, day,
      |       sqrt(CAST(n_returns * s2 - s1 * s1 AS DOUBLE)
      |            / CAST(n_returns * (n_returns - 1) AS DOUBLE)) / 100000 AS volatility,
      |       n_returns
      |FROM v JOIN customer ON user_id = c_custkey""".stripMargin

  /** A2 — price move following large trades (p90-quantile flag + lead), per
    * instrument, labeled with the part dimension (broadcast, post-agg).
    *
    * The p90 threshold is an exact DISTRIBUTED quantile: a value-histogram
    * (map-side-combined `groupBy(value).count`) + a cumulative-count window
    * over the distinct values only + `quantile_cont`-style linear
    * interpolation. Unlike `percentile(...)` — a TypedImperativeAggregate
    * that buffers every row of the table in ONE aggregation buffer (executor
    * OOM at 100 TB) — this plan's state is bounded by value cardinality, and
    * the window sorts distinct values, not rows. For a genuinely continuous
    * high-cardinality column, swap the histogram for `percentile_approx`;
    * for quantity-like columns the histogram is exact AND cheaper. The 1-row
    * threshold is broadcast into the fact scan, never `.collect()`ed (the
    * reference's own collect at `from_parser_to_rabbitmq.py:140` is the
    * anti-pattern we avoid).
    *
    * Impact deltas are summed in DECIMAL so the per-group mean is independent
    * of partition order (double addition is not associative).
    */
  def tradeImpact(s: SparkSession, dir: String): DataFrame = {
    val li  = Tables.load(s, dir, "lineitem")
    val dim = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_name").as("name"), col("p_brand").as("ticker"))
    // exact p90 via value histogram: one map-side-combined groupBy(value),
    // then the tiny (value, count) list collapses into a single row where
    // [[quantileFromHist]] interpolates quantile_cont-style. State is bounded
    // by value cardinality; no window, no single-row-partition sort.
    // null quantities are excluded like quantile_cont excludes them (and a
    // null histogram bucket would NPE inside the UDF)
    val hist = li.where(col("l_quantity").isNotNull)
      .groupBy(col("l_quantity").as("v")).agg(count(lit(1)).as("cnt"))
    val thr = hist
      .agg(array_sort(collect_list(struct(col("v"), col("cnt")))).as("h"))
      .select(quantileFromHist(col("h"), lit(0.9)).as("thr"))
    val w = Window.partitionBy("l_partkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    li.withColumn("next_price", lead("l_extendedprice", 1).over(w))
      .where(col("next_price").isNotNull)
      .crossJoin(broadcast(thr))
      .withColumn("is_large", col("l_quantity") > col("thr"))
      .groupBy("l_partkey", "is_large")
      .agg(
        // no round(): the decimal sum and integer count are bit-deterministic
        // on both engines, so the IEEE quotient is too — rounding would only
        // reintroduce half-up tie divergence at 6-dp boundaries
        (sum((col("next_price") - col("l_extendedprice")).cast("decimal(18,6)"))
          .cast("double") / count(lit(1))).as("avg_impact"),
        count(lit(1)).as("n_trades"))
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("name"), col("ticker"), col("is_large"),
        col("avg_impact"), col("n_trades"))
  }

  private val tradeImpactSql =
    """WITH thr AS (SELECT quantile_cont(l_quantity, 0.9) AS thr FROM lineitem),
      |x AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice,
      |         lead(l_extendedprice) OVER (PARTITION BY l_partkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber) AS next_price
      |  FROM lineitem),
      |g AS (
      |  SELECT l_partkey, l_quantity > thr AS is_large,
      |         CAST(sum(CAST(next_price - l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(*) AS avg_impact,
      |         count(*) AS n_trades
      |  FROM x, thr WHERE next_price IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT l_partkey, p_name AS name, p_brand AS ticker, is_large,
      |       avg_impact, n_trades
      |FROM g JOIN part ON l_partkey = p_partkey""".stripMargin

  /** A3 — close-price predictability: lag-1 autocorrelation of the daily
    * mean price series per (order priority × customer nation), labeled with
    * the nation dimension name (broadcast snowflake: orders → customer →
    * nation, both dims broadcast — the fact table never shuffles for the
    * joins, only for the daily aggregation).
    */
  def predictability(s: SparkSession, dir: String): DataFrame = {
    val o    = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val nat  = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val daily = o
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(
        col("o_orderpriority").as("priority"),
        col("nation"),
        to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(12,2)")).cast("double") /
        count(lit(1))).as("close"))
    val w = Window.partitionBy("priority", "nation").orderBy("day")
    // Cross-engine determinism: `corr` is a summation-order-dependent double
    // aggregate (`round(x, 6)` of it was the latent half-up tie class).
    // `close` itself IS bit-deterministic (exact decimal sum → one cast, one
    // division), so floor it to whole currency units (x ≤ 6e5) and keep
    // exact integer sufficient statistics: with n_days ≤ ~2.4e3 every
    // product (n·Σxy, Σx·Σy, n·Σx² − (Σx)²) stays under ~2.1e18 — exact in
    // int64 — and the Pearson ratio is replayed as num/(sqrt(a)·sqrt(b)),
    // each step one correctly-rounded IEEE op, bit-identical cross-engine.
    daily
      .withColumn("prev_close", lag("close", 1).over(w))
      .where(col("prev_close").isNotNull)
      .select(col("priority"), col("nation"),
        floor(col("close")).cast("long").as("x"),
        floor(col("prev_close")).cast("long").as("y"))
      .groupBy("priority", "nation")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("vx", (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("vy", (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double"))
      .select(col("priority"), col("nation"),
        when(col("vx") > 0 && col("vy") > 0,
          (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt(col("vx")) * sqrt(col("vy")))).as("autocorr"),
        col("n_days"))
  }

  private val predictabilitySql =
    """WITH d AS (
      |  SELECT o_orderpriority AS priority, n_name AS nation,
      |         CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS close
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3),
      |l AS (
      |  SELECT priority, nation, close,
      |         lag(close) OVER (PARTITION BY priority, nation ORDER BY day) AS prev_close
      |  FROM d),
      |xy AS (
      |  SELECT priority, nation,
      |         CAST(floor(close) AS BIGINT) AS x, CAST(floor(prev_close) AS BIGINT) AS y
      |  FROM l WHERE prev_close IS NOT NULL),
      |g AS (
      |  SELECT priority, nation, count(*) AS n_days,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM xy GROUP BY priority, nation),
      |v AS (
      |  SELECT *, CAST(n_days * sxx - sx * sx AS DOUBLE) AS vx,
      |            CAST(n_days * syy - sy * sy AS DOUBLE) AS vy
      |  FROM g)
      |SELECT priority, nation,
      |       CASE WHEN vx > 0 AND vy > 0
      |            THEN CAST(n_days * sxy - sx * sy AS DOUBLE) / (sqrt(vx) * sqrt(vy))
      |       END AS autocorr,
      |       n_days
      |FROM v""".stripMargin

  /** A4 — buy/sell pressure imbalance per entity per day:
    * (buys - sells) / (buys + sells), the order-book imbalance formula over
    * the event stream ('click' as bid-side, 'view' as ask-side interest).
    */
  def imbalance(s: SparkSession, dir: String): DataFrame = {
    val ev  = Tables.load(s, dir, "events")
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name").as("name"), col("c_mktsegment").as("sector"))
    val buys  = sum(when(col("event_type") === "click", 1).otherwise(0))
    val sells = sum(when(col("event_type") === "view", 1).otherwise(0))
    ev.groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        buys.as("n_buys"),
        sells.as("n_sells"),
        count(lit(1)).as("n_events"))
      .where(col("n_buys") + col("n_sells") > 0)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(
        col("user_id"), col("name"), col("sector"), col("day"),
        col("n_buys"), col("n_sells"), col("n_events"),
        // one correctly-rounded division of exact integers — emit it raw
        // (round(x, 6) of a deterministic quotient is the half-up tie class)
        ((col("n_buys") - col("n_sells")).cast("double") /
          (col("n_buys") + col("n_sells")).cast("double")).as("imbalance"))
  }

  private val imbalanceSql =
    """WITH g AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_buys,
      |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_sells,
      |       count(*) AS n_events,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |          - sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |              + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
      |         AS imbalance
      |  FROM events
      |  GROUP BY 1, 2
      |  HAVING sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END) > 0)
      |SELECT user_id, c_name AS name, c_mktsegment AS sector, day,
      |       n_buys, n_sells, n_events, imbalance
      |FROM g JOIN customer ON user_id = c_custkey""".stripMargin

  /** SCD2 dimension-history build: turn each user's change stream into
    * type-2 validity intervals ([ts, next_ts) via `lead` in one per-user
    * window — the complement of [[graft.operators.Merge]]'s latest-wins
    * current-state view). Accounting output: versions per key, exact total
    * covered span in integer microseconds, and formatted interval bounds.
    *
    * Scale notes (100 TB posture): one shuffle on the history key, window
    * state = one key's versions; at scale the change stream is already
    * bucketed by key, making the sort partition-local. The open (current)
    * interval is the NULL-lead row — no sentinel timestamps that would
    * break range pruning.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_versions"),
        sum(unix_micros(col("valid_to")) - unix_micros(col("ts"))).as("covered_us"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_from"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_from"))
  }

  private val scd2HistorySql =
    """WITH iv AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, event_id,
      |         lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to
      |  FROM events)
      |SELECT user_id, count(*) AS n_versions,
      |       CAST(sum(date_diff('microsecond', tsv, valid_to)) AS BIGINT) AS covered_us,
      |       strftime(min(tsv), '%Y-%m-%d %H:%M:%S') AS first_from,
      |       strftime(max(tsv), '%Y-%m-%d %H:%M:%S') AS last_from
      |FROM iv GROUP BY user_id""".stripMargin

  /** Sessionization: split each user's event stream on >30-minute gaps
    * (lag + conditional cumsum inside one per-user window — the batch twin of
    * the stateful streaming variant in [[graft.streaming.StreamIngest]]).
    */
  def sessionization(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val w  = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("duration_sec"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
  }

  private val sessionizationSql =
    """WITH x AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, event_id,
      |         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT user_id, tsv, event_id,
      |         CASE WHEN prev_ts IS NULL
      |                   OR date_diff('second', prev_ts, tsv) > 1800
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM x),
      |sq AS (
      |  SELECT user_id, tsv,
      |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tsv, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM m)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |       date_diff('second', min(tsv), max(tsv)) AS duration_sec,
      |       strftime(min(tsv), '%Y-%m-%d %H:%M:%S') AS session_start
      |FROM sq GROUP BY user_id, session_seq""".stripMargin

  /** OHLCV candle resampling — tick trades → monthly bars (the batch twin of
    * [[graft.streaming.StreamIngest.ohlcvBars]], and the construction of the
    * reference's core `candles` table from first principles). open/close are
    * `min_by`/`max_by` on a TOTAL order (event time, unique event id) —
    * without the unique tie-break the bar endpoints are nondeterministic
    * whenever two ticks share a timestamp. One shuffle on (instrument, bar).
    */
  def candleResample(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val eid = (col("l_orderkey") * 10 + col("l_linenumber")).as("eid")
    val trades = li.select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
      expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
      col("l_extendedprice").as("price"),
      col("l_quantity").cast("long").as("volume"),
      eid)
    trades
      .groupBy(col("company_id"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(
        // price itself joins both pick orders: the driver testdata carries
        // DUPLICATE (orderkey, linenumber) pairs at sf0.1, so (ts, eid)
        // alone can tie with different prices — ambiguous across engines
        min_by(col("price"), struct(col("ts"), col("eid"), col("price"))).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), struct(col("ts"), col("eid"), col("price"))).as("close"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_trades"))
  }

  private val candleResampleSql =
    """WITH t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND AS tsv,
      |         l_extendedprice AS price,
      |         CAST(l_quantity AS BIGINT) AS volume,
      |         l_orderkey * 10 + l_linenumber AS eid
      |  FROM lineitem),
      |o AS (
      |  SELECT company_id, strftime(tsv, '%Y-%m') AS month, price, volume,
      |         row_number() OVER (PARTITION BY company_id, strftime(tsv, '%Y-%m')
      |                            ORDER BY tsv, eid, price) AS rn_a,
      |         row_number() OVER (PARTITION BY company_id, strftime(tsv, '%Y-%m')
      |                            ORDER BY tsv DESC, eid DESC, price DESC) AS rn_d
      |  FROM t)
      |SELECT company_id, month,
      |       max(CASE WHEN rn_a = 1 THEN price END) AS open,
      |       max(price) AS high, min(price) AS low,
      |       max(CASE WHEN rn_d = 1 THEN price END) AS close,
      |       CAST(sum(volume) AS BIGINT) AS volume,
      |       count(*) AS n_trades
      |FROM o GROUP BY company_id, month""".stripMargin

  /** A5 — VWAP/TWAP per (instrument, month) over the tick-trade stream
    * ([[candleResample]]'s derivation). Both numerators accumulate in
    * DECIMAL (exact, order-independent); the final quotients are raw double
    * divisions of exactly-determined operands — deterministic in any engine,
    * no rounding. One shuffle on the grouping key, map-side partials.
    */
  def vwap(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val trades = li.select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
      expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
      col("l_extendedprice").as("price"),
      col("l_quantity").cast("long").as("volume"))
    trades
      .groupBy(col("company_id"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_trades"),
        sum(col("volume")).as("sum_volume"),
        (sum(col("price").cast("decimal(12,2)") * col("volume")).cast("double") /
          sum(col("volume")).cast("double")).as("vwap"),
        (sum(col("price").cast("decimal(12,2)")).cast("double") /
          count(lit(1)).cast("double")).as("twap"))
  }

  private val vwapSql =
    """WITH t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         strftime(l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND, '%Y-%m') AS month,
      |         l_extendedprice AS price,
      |         CAST(l_quantity AS BIGINT) AS volume
      |  FROM lineitem)
      |SELECT company_id, month, count(*) AS n_trades,
      |       CAST(sum(volume) AS BIGINT) AS sum_volume,
      |       CAST(sum(CAST(price AS DECIMAL(12,2)) * volume) AS DOUBLE)
      |         / CAST(sum(volume) AS DOUBLE) AS vwap,
      |       CAST(sum(CAST(price AS DECIMAL(12,2))) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS twap
      |FROM t GROUP BY company_id, month""".stripMargin

  /** A6 — top-of-book liquidity per instrument bucket over the normalized
    * order-book snapshots (the REAL P5 projection over API-shaped depth-3
    * books, no wire round trip). Per-row spread/mid are deterministic double
    * arithmetic; group stats stick to order-independent aggregates — min/max
    * for doubles, exact integer sums for volumes — and the imbalance is a
    * raw quotient of exact longs. No double is ever summed.
    */
  def bookLiquidity(s: SparkSession, dir: String): DataFrame = {
    val books = graft.ingest.Normalize.projectOrderBook(
      graft.ingest.IngestPack.apiBooks(s, dir))
    books
      .select(
        graft.ingest.IngestPack.figiBucket(col("company_id"), 8).as("bucket"),
        (col("ask_price") - col("bid_price")).as("spread"),
        ((col("bid_price") + col("ask_price")) / 2).as("mid"),
        col("bid_volume"), col("ask_volume"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_quotes"),
        min(col("spread")).as("min_spread"),
        max(col("spread")).as("max_spread"),
        min(col("mid")).as("min_mid"),
        max(col("mid")).as("max_mid"),
        sum(col("bid_volume")).as("sum_bid_vol"),
        sum(col("ask_volume")).as("sum_ask_vol"),
        ((sum(col("bid_volume")) - sum(col("ask_volume"))).cast("double") /
          (sum(col("bid_volume")) + sum(col("ask_volume"))).cast("double"))
          .as("book_imbalance"))
  }

  private val bookLiquiditySql =
    """WITH b AS (
      |  SELECT c_custkey % 8 AS bucket,
      |         (CAST(c_custkey % 500 + 101 AS DOUBLE)
      |            + CAST((c_custkey * 37) % 1000000000 AS DOUBLE) / 1e9)
      |         - (CAST(c_custkey % 500 + 100 AS DOUBLE)
      |            + CAST((c_custkey * 31) % 1000000000 AS DOUBLE) / 1e9) AS spread,
      |         ((CAST(c_custkey % 500 + 100 AS DOUBLE)
      |            + CAST((c_custkey * 31) % 1000000000 AS DOUBLE) / 1e9)
      |          + (CAST(c_custkey % 500 + 101 AS DOUBLE)
      |            + CAST((c_custkey * 37) % 1000000000 AS DOUBLE) / 1e9)) / 2 AS mid,
      |         c_custkey % 50 + 1 AS bid_volume,
      |         c_custkey % 60 + 1 AS ask_volume
      |  FROM customer)
      |SELECT bucket, count(*) AS n_quotes,
      |       min(spread) AS min_spread, max(spread) AS max_spread,
      |       min(mid) AS min_mid, max(mid) AS max_mid,
      |       CAST(sum(bid_volume) AS BIGINT) AS sum_bid_vol,
      |       CAST(sum(ask_volume) AS BIGINT) AS sum_ask_vol,
      |       CAST(sum(bid_volume) - sum(ask_volume) AS DOUBLE)
      |         / CAST(sum(bid_volume) + sum(ask_volume) AS DOUBLE) AS book_imbalance
      |FROM b GROUP BY bucket""".stripMargin

  /** fold for [[ema]]: seed with the first value, then e ← α·v + (1-α)·e —
    * EXACTLY DuckDB's `list_reduce(l, (a, b) -> α*b + (1-α)*a)` (which seeds
    * with the first element), same operation order, so the result is
    * bit-identical without rounding.
    */
  private val emaFold = udf { (values: Seq[Double], alpha: Double) =>
    if (values.isEmpty) Double.NaN
    else values.tail.foldLeft(values.head)((e, v) => alpha * v + (1 - alpha) * e)
  }

  /** A7 — per-entity exponential moving average of the value stream.
    * EMA is inherently order-RECURSIVE (e_t depends on e_{t-1}), which no
    * window frame expresses; the Spark-first shape is one per-key
    * aggregation collecting the (ts, id, value) structs, an `array_sort`
    * (struct order = field order = the total event order), and a compiled
    * fold — per-key state is the key's own history, the same bound a
    * segment-scan implementation needs, and keys are independent so the one
    * shuffle is on the natural entity key. (The closed form
    * α·Σ(1-α)^(n-i)·v_i overflows for long histories — the fold does not.)
    */
  def ema(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        emaFold(
          expr("transform(array_sort(collect_list(struct(ts, event_id, value))), r -> r.value)"),
          lit(0.1)).as("ema_value"))
  }

  private val emaSql =
    """SELECT user_id, count(*) AS n_events,
      |       list_reduce(
      |         list(value ORDER BY CAST(ts AS TIMESTAMP), event_id),
      |         (a, b) -> 0.1 * b + (1 - 0.1) * a) AS ema_value
      |FROM events GROUP BY user_id""".stripMargin

  /** A8 — maximum drawdown per entity: the deepest peak-to-trough decline
    * `min(value / running_max - 1)` over the time-ordered value stream.
    * Fully declarative (running max is a window frame; the trough is an
    * order-independent min of per-row ratios), one shuffle on the entity
    * key, window sorts within partitions only. Ratios are raw doubles —
    * deterministic IEEE division of identical operands in both engines.
    */
  def maxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("runmax", max(col("value")).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("value") / col("runmax") - 1).as("max_drawdown"))
  }

  private val maxDrawdownSql =
    """WITH r AS (
      |  SELECT user_id, value,
      |         max(value) OVER (PARTITION BY user_id
      |                          ORDER BY CAST(ts AS TIMESTAMP), event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |       min(value / runmax - 1) AS max_drawdown
      |FROM r GROUP BY user_id""".stripMargin

  /** Funnel: view → click → purchase, each stage strictly after the user's
    * first event of the previous stage. Stage timestamps come from ONE
    * conditional aggregation pass; the later stages re-aggregate the joined
    * event stream (broadcast of the per-user stage-1 row). Output is the
    * 1-row stage-count summary.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    // the per-user stage frames each feed TWO consumers (next stage's join +
    // the final count) — keep them or the events scan and per-user aggs
    // re-run once per consumer (measured: 12 parquet scans uncached)
    val firstView = keep(ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"))
      .where(col("first_view").isNotNull))
    val firstClick = keep(ev.join(broadcast(firstView), "user_id")
      .where(col("event_type") === "click" && col("ts") > col("first_view"))
      .groupBy("user_id").agg(min(col("ts")).as("first_click")))
    val purchased = ev.join(broadcast(firstClick), "user_id")
      .where(col("event_type") === "purchase" && col("ts") > col("first_click"))
      .select("user_id").distinct()
    firstView.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(broadcast(firstClick.agg(count(lit(1)).as("n_clicked_after_view"))))
      .crossJoin(broadcast(purchased.agg(count(lit(1)).as("n_purchased_after_click"))))
  }

  private val funnelSql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, event_type FROM events),
      |v AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN tsv END) AS first_view
      |  FROM e GROUP BY user_id
      |  HAVING min(CASE WHEN event_type = 'view' THEN tsv END) IS NOT NULL),
      |c AS (
      |  SELECT e.user_id, min(tsv) AS first_click
      |  FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND tsv > first_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT DISTINCT e.user_id
      |  FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND tsv > first_click)
      |SELECT (SELECT count(*) FROM v) AS n_viewed,
      |       (SELECT count(*) FROM c) AS n_clicked_after_view,
      |       (SELECT count(*) FROM p) AS n_purchased_after_click""".stripMargin

  /** Cohort retention: users grouped by first-activity day, counted per
    * day-offset of later activity. Two aggregations — per-user cohort
    * assignment (broadcast back into the stream) and the (cohort, offset)
    * distinct-user matrix.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    // cache: the per-user cohort frame is consumed by the join AND its
    // build re-reads the same events scan the probe side uses
    val cohorts = keep(ev.groupBy("user_id").agg(min(col("day")).as("cohort_day")))
    ev.join(broadcast(cohorts), "user_id")
      .groupBy(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  private val cohortRetentionSql =
    """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
      |       date_diff('day', cohort_day, day) AS day_offset,
      |       count(DISTINCT user_id) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** A9: per-user covariance between daily click and purchase activity, in
    * EXACT integer space. Statistical moments over doubles are
    * accumulation-order-dependent (a float sum differs between engines), so
    * the whole computation stays in BIGINTs — daily counts x, y; n days;
    * Σx, Σy, Σxy — and population covariance is emitted in the rational
    * form (n·Σxy − Σx·Σy)/n²: one division of exact integers, which IEEE
    * rounds identically everywhere. The same discipline as BM25's rational
    * idf (CLAUDE.md plan rules).
    *
    * Scale shape: two shuffles — (user, day) count matrix, then per-user
    * moment fold; per-task state is one hash-agg partial either way.
    */
  def activityCov(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .where(col("event_type").isin("click", "purchase"))
    val daily = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    daily.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_days"),
        sum("x").as("sum_x"),
        sum("y").as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"))
      .select(
        col("user_id"), col("n_days"), col("sum_x"), col("sum_y"),
        ((col("n_days") * col("sum_xy") - col("sum_x") * col("sum_y")).cast("double") /
          (col("n_days") * col("n_days")).cast("double")).as("cov_xy"))
  }

  private val activityCovSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
      |         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |         CAST(sum(x * y) AS BIGINT) AS sum_xy
      |  FROM daily GROUP BY user_id)
      |SELECT user_id, n_days, sum_x, sum_y,
      |       CAST(n_days * sum_xy - sum_x * sum_y AS DOUBLE) /
      |       CAST(n_days * n_days AS DOUBLE) AS cov_xy
      |FROM m""".stripMargin

  /** minimum shared active days for a pair to be emitted by [[pairwiseCovStats]] */
  val MinSharedDays = 20

  /** exact-scan universe cap for [[pairwiseCovStats]]: the pair scan is
    * intrinsically quadratic in SERIES COUNT (not event volume), so the
    * exact form is scoped to a tracked universe — the same call every real
    * correlation pipeline makes. Beyond it: block by sector/bucket and scan
    * blocks independently, or drop to a sampled sketch.
    */
  val PairUniverse = 500

  /** A12: the pairwise-association SCAN — exact sufficient statistics
    * (n, Σx, Σy, Σxy and the covariance numerator n·Σxy − Σx·Σy) for every
    * user pair over their SHARED active days, the primitive a correlation /
    * cointegration matrix is assembled from. Everything stays in exact
    * integers (daily values anchored to the milli grid — the CLAUDE.md
    * arbitrary-double rule), so 11k pair rows hash-gate bit-for-bit; the
    * float covariance is one client-side division away and intentionally
    * NOT emitted.
    *
    * Shape: one pass builds the (series, day, value) relation (bounded by
    * series × days, not events), then ONE shuffle on the day key
    * self-joins it — each day contributes C(k,2) local pairs, so skew is
    * bounded by per-day series count, never by event volume. The scan is
    * scoped to the [[PairUniverse]] tracked universe because pair count is
    * quadratic in SERIES (measured: the uncapped 1500-series sf0.1 run
    * built 34M pair-days for 1.09M output pairs at 10.8 s — all of it
    * correct, most of it unaskable-for); past the cap, block by sector and
    * scan blocks independently, or drop to a sampled sketch. The threshold
    * + the day-key join, not a per-pair loop, are the operator.
    */
  def pairwiseCovStats(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .where(col("user_id") < PairUniverse)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
    val a = daily.select(col("user_id").as("ua"), col("day"), col("v").as("va"))
    val b = daily.select(col("user_id").as("ub"), col("day"), col("v").as("vb"))
    a.join(b, Seq("day")).where(col("ua") < col("ub"))
      .groupBy("ua", "ub")
      .agg(
        count(lit(1)).as("n_days"),
        sum("va").as("sum_a"),
        sum("vb").as("sum_b"),
        sum(col("va") * col("vb")).as("sum_ab"))
      .where(col("n_days") >= MinSharedDays)
      .select(col("ua"), col("ub"), col("n_days"), col("sum_a"), col("sum_b"),
        col("sum_ab"),
        (col("n_days") * col("sum_ab") - col("sum_a") * col("sum_b")).as("cov_num"))
  }

  private val pairwiseCovStatsSql =
    s"""WITH daily AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE user_id < $PairUniverse GROUP BY 1, 2),
      |p AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_days,
      |         CAST(sum(a.v) AS BIGINT) AS sum_a, CAST(sum(b.v) AS BIGINT) AS sum_b,
      |         CAST(sum(a.v * b.v) AS BIGINT) AS sum_ab
      |  FROM daily a JOIN daily b ON a.day = b.day AND a.user_id < b.user_id
      |  GROUP BY 1, 2)
      |SELECT ua, ub, n_days, sum_a, sum_b, sum_ab,
      |       CAST(n_days * sum_ab - sum_a * sum_b AS BIGINT) AS cov_num
      |FROM p WHERE n_days >= $MinSharedDays""".stripMargin

  /** A10: z-score outlier counts per event type WITHOUT any float moment.
    * z > 2 ⟺ (n·x − Σx)² > 4·(n·Σx² − (Σx)²): both sides are exact
    * integers once values are anchored to the milli grid
    * (floor(value·1000)), so the flag never flips across engines the way a
    * stddev comparison would. Products run in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) — overflow-proof to ~1e38, far past 100 TB row
    * counts. One group pass for the moments, a broadcast join back (the
    * moment table is |event types| rows), one count pass.
    */
  def outlierZscore(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), floor(col("value") * 1000).cast("long").as("v3"))
    val m = ev.groupBy("event_type").agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("v3")).cast(d38).as("s"),
      sum(col("v3").cast(d38) * col("v3").cast(d38)).as("q"))
    val dev = ev.join(broadcast(m), "event_type")
      .withColumn("lhs",
        (col("n") * col("v3").cast(d38) - col("s")) *
          (col("n") * col("v3").cast(d38) - col("s")))
      .withColumn("rhs", lit(4).cast(d38) * (col("n") * col("q") - col("s") * col("s")))
    dev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("lhs") > col("rhs"), 1L).otherwise(0L)).as("n_outlier"))
  }

  private val outlierZscoreSql =
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v3 FROM events),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(v3) AS HUGEINT) AS s,
      |         sum(CAST(v3 AS HUGEINT) * CAST(v3 AS HUGEINT)) AS q
      |  FROM ev GROUP BY event_type)
      |SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(*) FILTER (
      |         WHERE (m.n * ev.v3 - m.s) * (m.n * ev.v3 - m.s)
      |             > 4 * (m.n * m.q - m.s * m.s)) AS BIGINT) AS n_outlier
      |FROM ev JOIN m ON ev.event_type = m.event_type
      |GROUP BY ev.event_type""".stripMargin

  /** Gap-fill + LOCF: regularize each user's event series onto a daily
    * spine (min..max event date) and forward-fill the daily close — the
    * missing-bar repair step every time-series store performs before
    * resampling/returns math (a candle feed like the reference's has no bar
    * on non-trading days). Shapes: the spine is (distinct users) ×
    * (generated day array) — both tiny relative to the fact table at any
    * scale (spine cardinality = |users|·|days|, independent of event count);
    * the daily close is a map-side-partial row_number argmax; the LOCF is
    * one window pass per user ordered by day. `filled` marks synthesized
    * rows. The close is a RAW observed double (no arithmetic), so the LOCF
    * output is bit-exact cross-engine.
    */
  def gapfillCloses(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    // last event of the (user, day) by (ts, event_id) — composite-order
    // argmax via row_number (DuckDB arg_max rejects struct keys)
    val perDay = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("event_id"), col("value"))
      .withColumn("rn", row_number().over(perDay))
      .where(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close"))
    val days = ev
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val spine = ev.select("user_id").distinct().crossJoin(broadcast(days))
    val locf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        last(col("close"), ignoreNulls = true).over(locf).as("close"),
        when(col("close").isNull, 1).otherwise(0).as("filled"))
  }

  private val gapfillClosesSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, event_id, value FROM events),
      |daily AS (
      |  SELECT user_id, day, value AS close FROM (
      |    SELECT user_id, CAST(tsv AS DATE) AS day, value,
      |           row_number() OVER (PARTITION BY user_id, CAST(tsv AS DATE)
      |                              ORDER BY tsv DESC, event_id DESC) AS rn
      |    FROM ev)
      |  WHERE rn = 1),
      |days AS (
      |  SELECT CAST(unnest(generate_series(
      |           CAST((SELECT min(tsv) FROM ev) AS DATE),
      |           CAST((SELECT max(tsv) FROM ev) AS DATE),
      |           INTERVAL 1 DAY)) AS DATE) AS day),
      |spine AS (
      |  SELECT u.user_id, d.day
      |  FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN days d)
      |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
      |       last_value(daily.close IGNORE NULLS) OVER (
      |         PARTITION BY s.user_id ORDER BY s.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
      |       CASE WHEN daily.close IS NULL THEN 1 ELSE 0 END AS filled
      |FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day""".stripMargin

  /** Ordered-sequence (CEP-style) detection: purchases completing a
    * STRICTLY-ORDERED view → click → purchase chain where each hop happens
    * within one hour. The plain funnel ([[funnel]]) only checks stage
    * timestamps exist in order somewhere in the user's history; real
    * conversion attribution needs the MATCH_RECOGNIZE-style contiguity
    * constraint, which Spark lacks as an operator. Expressed with two
    * running window passes instead of self-joins:
    *
    *   1. per event, the latest PRECEDING view timestamp;
    *   2. clicks within an hour of that view become "qualified clicks";
    *      per event, the latest preceding qualified click;
    *   3. a purchase converts iff a qualified click precedes it within 1 h.
    *
    * Both passes share one (user) partitioning and one (ts, event_id) sort
    * — strictly-preceding ROW frames, integer-µs arithmetic end to end, so
    * the count is exact and engine-portable. Scale: two window passes over
    * user-partitioned rows, one sort, no join — the self-join formulation
    * would shuffle events × events.
    */
  def orderedFunnel(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("ok_click_us",
        when(col("event_type") === "click" &&
          col("us") - col("last_view") <= HourUs, col("us")))
      .withColumn("last_ok_click", max(col("ok_click_us")).over(w))
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("us") - col("last_ok_click") <= HourUs, 1L).otherwise(0L))
          .as("n_converted"))
  }

  private val orderedFunnelSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |s1 AS (
      |  SELECT *, max(CASE WHEN event_type = 'view' THEN us END) OVER w AS last_view
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |s2 AS (
      |  SELECT *, CASE WHEN event_type = 'click' AND us - last_view <= 3600000000
      |                 THEN us END AS ok_click_us
      |  FROM s1),
      |s3 AS (
      |  SELECT *, max(ok_click_us) OVER w AS last_ok_click
      |  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, count(*) AS n_purchases,
      |       CAST(sum(CASE WHEN us - last_ok_click <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_converted
      |FROM s3 WHERE event_type = 'purchase' GROUP BY user_id""".stripMargin

  /** A11: cross-series lead-lag agreement — for every pair of portfolios
    * (user buckets), how often their DAILY activity value moves in the same
    * direction. The reference's predictability analysis (#3,
    * `from_parser_to_rabbitmq.py:234-237`) looks at one series in
    * isolation; the pairwise variant is the standard next question (which
    * instruments co-move?) and exercises a shape nothing else in the pack
    * does: aligning N series on the time axis via a self-join, then
    * aggregating per pair.
    *
    * Exactness: daily values anchor to the milli grid (floor(value·1000)
    * summed as longs — the [[outlierZscore]] rule), and the day-over-day
    * move is reduced to its SIGN, so every output is an integer count.
    * Scale: the self-join keys on day across B buckets → B² rows per day,
    * fine for portfolio-level B (pairwise questions are inherently B²);
    * the daily rollup before the join keeps the joined relation
    * days × B, not raw-events-sized.
    */
  def leadLag(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val daily = ev
      .groupBy((col("user_id") % 5).as("bucket"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("v3"))
    val w = Window.partitionBy("bucket").orderBy("day")
    val rets = daily
      .withColumn("prev", lag(col("v3"), 1).over(w))
      .where(col("prev").isNotNull)
      .withColumn("sgn",
        when(col("v3") > col("prev"), 1L)
          .when(col("v3") < col("prev"), -1L).otherwise(0L))
      .select(col("bucket"), col("day"), col("sgn"))
    val lhs = rets.select(col("bucket").as("b_a"), col("day"), col("sgn").as("sgn_a"))
    val rhs = rets.select(col("bucket").as("b_b"), col("day"), col("sgn").as("sgn_b"))
    lhs.join(rhs, Seq("day"))
      .where(col("b_a") < col("b_b"))
      .groupBy("b_a", "b_b")
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("sgn_a") === col("sgn_b"), 1L).otherwise(0L)).as("n_agree"),
        sum(when(col("sgn_a") === 1 && col("sgn_b") === 1, 1L).otherwise(0L)).as("n_both_up"),
        sum(when(col("sgn_a") === -1 && col("sgn_b") === -1, 1L).otherwise(0L)).as("n_both_down"))
  }

  private val leadLagSql =
    """WITH daily AS (
      |  SELECT user_id % 5 AS bucket, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v3
      |  FROM events GROUP BY 1, 2),
      |rets AS (
      |  SELECT bucket, day,
      |         lag(v3) OVER w AS prev,
      |         CASE WHEN v3 > lag(v3) OVER w THEN 1
      |              WHEN v3 < lag(v3) OVER w THEN -1 ELSE 0 END AS sgn
      |  FROM daily WINDOW w AS (PARTITION BY bucket ORDER BY day)),
      |r AS (SELECT bucket, day, sgn FROM rets WHERE prev IS NOT NULL)
      |SELECT a.bucket AS b_a, b.bucket AS b_b, count(*) AS n_days,
      |       CAST(sum(CASE WHEN a.sgn = b.sgn THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
      |       CAST(sum(CASE WHEN a.sgn = 1 AND b.sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_up,
      |       CAST(sum(CASE WHEN a.sgn = -1 AND b.sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_down
      |FROM r a JOIN r b ON a.day = b.day AND a.bucket < b.bucket
      |GROUP BY 1, 2""".stripMargin

  /** Native session windows (`session_window(ts, gap)`) on a BATCH frame —
    * the declarative twin of the manual lag-cumsum [[sessionization]] and
    * the stateful streaming variant: Spark merges events whose gap to the
    * session's end is under 30 minutes inside the aggregate itself (no
    * window function pass). Boundary semantics are CLOSED on merge: an
    * event at EXACTLY `last + gap` still merges (its [ts, ts+gap) window
    * touches the session's end and Spark merges touching windows — pinned
    * empirically in StreamingSpec against both the batch and streaming
    * paths), so the oracle's manual reconstruction splits on
    * `diff > gap`, never `>=` (the earlier `>=` form survived the gate
    * only because the events data carries no exact-gap adjacent pair —
    * a latent tie class, fixed round 8). Per-user rollup keeps the output
    * compact and cross-checks the session partition.
    */
  def sessionWindowNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
  }

  private val sessionWindowNativeSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, event_id FROM events),
      |l AS (
      |  SELECT user_id, tsv, event_id,
      |         CASE WHEN lag(tsv) OVER w IS NULL
      |                   OR date_diff('microsecond', lag(tsv) OVER w, tsv) > 1800000000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsv, event_id)),
      |s AS (
      |  SELECT user_id,
      |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tsv, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM l),
      |per AS (SELECT user_id, sid, count(*) AS n_events FROM s GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions,
      |       CAST(sum(n_events) AS BIGINT) AS n_events,
      |       CAST(max(n_events) AS BIGINT) AS max_session_events
      |FROM per GROUP BY user_id""".stripMargin

  /** RFM segmentation: each purchasing user scored on Recency (last purchase
    * time), Frequency (purchase count) and Monetary (exact integer value
    * sum), cut into terciles per dimension, labeled `r{1-3}f{1-3}m{1-3}`,
    * and counted per segment — the classic marketing segmentation, here
    * with EXACT tercile cut points from value histograms
    * ([[graft.operators.ExactQuantile]]; the single-group histogram is
    * bounded by value cardinality — for a billion-user deployment swap the
    * R dimension's exact histogram for `percentile_approx`, the usual
    * trade). Cuts broadcast back; the segment label is a pure function of
    * (user stats, cuts), so the gate is hash-strict.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.load(s, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        max(unix_micros(col("ts"))).as("r"),
        count(lit(1)).as("f"),
        sum(floor(col("value") * 1000).cast("long")).as("m"))
      .withColumn("g", lit(0))
    def cuts(c: String) = broadcast(
      graft.operators.ExactQuantile
        .groupQuantilesDisc(perUser, Seq("g"), c, Seq(1.0 / 3, 2.0 / 3))
        .select(col(s"${c}_q0").as(s"${c}33"), col(s"${c}_q1").as(s"${c}66")))
    def idx(c: String) =
      lit(1) + (col(c) > col(s"${c}33")).cast("int") + (col(c) > col(s"${c}66")).cast("int")
    perUser
      .crossJoin(cuts("r")).crossJoin(cuts("f")).crossJoin(cuts("m"))
      .select(
        concat(lit("r"), idx("r"), lit("f"), idx("f"), lit("m"), idx("m")).as("segment"),
        col("m"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum("m").as("sum_m"))
  }

  private val rfmSegmentsSql =
    """WITH pu AS (
      |  SELECT user_id, max(epoch_us(CAST(ts AS TIMESTAMP))) AS r, count(*) AS f,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS m
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |c AS (
      |  SELECT quantile_disc(r, 1.0/3) AS r33, quantile_disc(r, 2.0/3) AS r66,
      |         quantile_disc(f, 1.0/3) AS f33, quantile_disc(f, 2.0/3) AS f66,
      |         quantile_disc(m, 1.0/3) AS m33, quantile_disc(m, 2.0/3) AS m66
      |  FROM pu)
      |SELECT concat(
      |         'r', 1 + CASE WHEN r > r33 THEN 1 ELSE 0 END + CASE WHEN r > r66 THEN 1 ELSE 0 END,
      |         'f', 1 + CASE WHEN f > f33 THEN 1 ELSE 0 END + CASE WHEN f > f66 THEN 1 ELSE 0 END,
      |         'm', 1 + CASE WHEN m > m33 THEN 1 ELSE 0 END + CASE WHEN m > m66 THEN 1 ELSE 0 END) AS segment,
      |       count(*) AS n_users, CAST(sum(m) AS BIGINT) AS sum_m
      |FROM pu, c GROUP BY 1""".stripMargin

  /** A/B-experiment lift readout: users split deterministically into two
    * arms (`user_id % 2` — membership is a pure function, so retries,
    * replays and the oracle all agree), per-arm user counts and purchase
    * totals, and the relative lift of arm 1 over arm 0 in ppm via the
    * rational integer form `(p1·n0·1e6) div (p0·n1)` — no rate division
    * anywhere. Two aggregates (per-user, then per-arm) and a 1×1 cross of
    * the two arm rows; nothing here is data-scale-dependent past the first
    * groupBy.
    */
  def abLift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purch"))
      .withColumn("arm", col("user_id") % 2)
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("purch").as("n_purch"))
    val a0 = arms.where(col("arm") === 0)
      .select(col("n_users").as("n_users_0"), col("n_purch").as("n_purch_0"))
    val a1 = arms.where(col("arm") === 1)
      .select(col("n_users").as("n_users_1"), col("n_purch").as("n_purch_1"))
    a0.crossJoin(a1)
      .withColumn("lift_ppm",
        expr("n_purch_1 * n_users_0 * 1000000 div (n_purch_0 * n_users_1)"))
  }

  private val abLiftSql =
    """WITH pu AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purch
      |  FROM events GROUP BY 1, 2),
      |arms AS (
      |  SELECT arm, count(*) AS n_users, CAST(sum(purch) AS BIGINT) AS n_purch
      |  FROM pu GROUP BY arm)
      |SELECT a0.n_users AS n_users_0, a0.n_purch AS n_purch_0,
      |       a1.n_users AS n_users_1, a1.n_purch AS n_purch_1,
      |       CAST((a1.n_purch * a0.n_users * 1000000) // (a0.n_purch * a1.n_users) AS BIGINT) AS lift_ppm
      |FROM (SELECT * FROM arms WHERE arm = 0) a0,
      |     (SELECT * FROM arms WHERE arm = 1) a1""".stripMargin

  /** Difference-in-differences estimator over purchase spend: arms by the
    * deterministic `user_id % 2` assignment ([[abLift]]'s discipline),
    * periods split at the data-derived midpoint day of the purchase
    * history, per-user-per-period spend summed in exact integer
    * milli-units, then the 2×2 cell means and
    * DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre). Each mean is
    * ONE correctly-rounded division of an exact int64 sum (the long→double
    * rule), and the three subtractions are a fixed IEEE-exact sequence —
    * the whole readout hash-gates. DiD is the panel-causal estimate an A/B
    * readout needs when arms differ at baseline (pure post-period lift
    * would confound pre-existing spend gaps).
    *
    * 100 TB shape: per-(user, period) partial aggregate, then a 4-row
    * reduce via conditional aggregation — one pass, no Expand (no distinct
    * aggregates anywhere); the midpoint is a broadcast 1-row aggregate.
    */
  def abDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "events")
      .where(col("event_type") === "purchase")
      .select(col("user_id"), (col("user_id") % 2).as("arm"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("micro"))
    val b = p.agg(expr("(min(d) + max(d) + 1) div 2").as("bday"))
    val uc = p.crossJoin(broadcast(b))
      .groupBy(col("user_id"), col("arm"),
        when(col("d") >= col("bday"), 1L).otherwise(0L).as("period"), col("bday"))
      .agg(sum(col("micro")).as("sp"))
    def cell(a: Int, pd: Int, what: Column, alias: String) =
      sum(when(col("arm") === a && col("period") === pd, what).otherwise(lit(0L))).as(alias)
    uc.agg(
        max(col("bday")).as("boundary_day_num"),
        cell(0, 0, lit(1L), "n_c_pre"), cell(0, 0, col("sp"), "s_c_pre"),
        cell(0, 1, lit(1L), "n_c_post"), cell(0, 1, col("sp"), "s_c_post"),
        cell(1, 0, lit(1L), "n_t_pre"), cell(1, 0, col("sp"), "s_t_pre"),
        cell(1, 1, lit(1L), "n_t_post"), cell(1, 1, col("sp"), "s_t_post"))
      .select(col("*"),
        expr("CAST(s_c_pre AS DOUBLE) / n_c_pre").as("m_c_pre"),
        expr("CAST(s_c_post AS DOUBLE) / n_c_post").as("m_c_post"),
        expr("CAST(s_t_pre AS DOUBLE) / n_t_pre").as("m_t_pre"),
        expr("CAST(s_t_post AS DOUBLE) / n_t_post").as("m_t_post"))
      .withColumn("did_milli",
        (col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")))
  }

  private val abDiffInDiffSql =
    """WITH p AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |         date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
      |         CAST(floor(value * 1000) AS BIGINT) AS micro
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT (min(d) + max(d) + 1) // 2 AS bday FROM p),
      |uc AS (
      |  SELECT user_id, arm, CASE WHEN d >= bday THEN 1 ELSE 0 END AS period,
      |         bday, CAST(sum(micro) AS BIGINT) AS sp
      |  FROM p CROSS JOIN b GROUP BY 1, 2, 3, 4),
      |cells AS (
      |  SELECT CAST(max(bday) AS BIGINT) AS boundary_day_num,
      |         CAST(sum(CASE WHEN arm = 0 AND period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
      |         CAST(sum(CASE WHEN arm = 0 AND period = 0 THEN sp ELSE 0 END) AS BIGINT) AS s_c_pre,
      |         CAST(sum(CASE WHEN arm = 0 AND period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
      |         CAST(sum(CASE WHEN arm = 0 AND period = 1 THEN sp ELSE 0 END) AS BIGINT) AS s_c_post,
      |         CAST(sum(CASE WHEN arm = 1 AND period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
      |         CAST(sum(CASE WHEN arm = 1 AND period = 0 THEN sp ELSE 0 END) AS BIGINT) AS s_t_pre,
      |         CAST(sum(CASE WHEN arm = 1 AND period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
      |         CAST(sum(CASE WHEN arm = 1 AND period = 1 THEN sp ELSE 0 END) AS BIGINT) AS s_t_post
      |  FROM uc)
      |SELECT *,
      |       ((CAST(s_t_post AS DOUBLE) / n_t_post) - (CAST(s_t_pre AS DOUBLE) / n_t_pre))
      |       - ((CAST(s_c_post AS DOUBLE) / n_c_post) - (CAST(s_c_pre AS DOUBLE) / n_c_pre)) AS did_milli
      |FROM (
      |  SELECT *,
      |         CAST(s_c_pre AS DOUBLE) / n_c_pre AS m_c_pre,
      |         CAST(s_c_post AS DOUBLE) / n_c_post AS m_c_post,
      |         CAST(s_t_pre AS DOUBLE) / n_t_pre AS m_t_pre,
      |         CAST(s_t_post AS DOUBLE) / n_t_post AS m_t_post
      |  FROM cells)""".stripMargin

  /** CUPED variance reduction — the modern A/B readout that shrinks metric
    * variance with a pre-period covariate (Deng et al. 2013): per user,
    * x = pre-period purchase spend and y = post-period spend (whole value
    * units — `div 1000` of the milli sums keeps every squared sufficient
    * statistic « 2^63 up to ~1e9 users), θ = cov(x, y)/var(x) POOLED
    * across arms, and each arm's adjusted mean uses the algebraic identity
    * `mean(y − θ(x − x̄)) = ȳ − θ(x̄_arm − x̄_pooled)` — so NO per-user
    * double is ever summed (the order-dependence trap); everything derives
    * from exact int64 sums through one fixed correctly-rounded double
    * sequence, with the variance reduction
    * `1 − (v_y − 2θc_xy + θ²v_x)/v_y` per arm on the same n²-scaled exact
    * numerators. Outputs floor-integerized (e3 means, ppm reduction).
    *
    * 100 TB shape: one per-user aggregate, then arm-level 1-row reduces;
    * the pooled stats broadcast. Same boundary rule as [[abDiffInDiff]].
    */
  def abCuped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .where(col("event_type") === "purchase")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
        floor(col("value") * 1000).cast("long").as("micro"))
    val bounds = ev.agg(expr("(min(d) + max(d) + 1) div 2").as("bday"))
    val pu = ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("d") < col("bday"), col("micro")).otherwise(0L)).as("pre_m"),
        sum(when(col("d") >= col("bday"), col("micro")).otherwise(0L)).as("post_m"))
      .select((col("user_id") % 2).as("arm"),
        expr("pre_m div 1000").as("x"), expr("post_m div 1000").as("y"))
    val pooled = pu.agg(
      count(lit(1)).as("np"), sum(col("x")).as("sxp"),
      sum(col("x") * col("x")).as("sxxp"), sum(col("x") * col("y")).as("sxyp"),
      sum(col("y")).as("syp"))
    val arms = pu.groupBy(col("arm")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    arms.crossJoin(broadcast(pooled))
      .withColumn("theta",
        expr("CAST(np * sxyp - sxp * syp AS DOUBLE) / CAST(np * sxxp - sxp * sxp AS DOUBLE)"))
      .withColumn("vy", expr("CAST(n * syy - sy * sy AS DOUBLE)"))
      .withColumn("vx", expr("CAST(n * sxx - sx * sx AS DOUBLE)"))
      .withColumn("cxy", expr("CAST(n * sxy - sx * sy AS DOUBLE)"))
      .select(col("arm"), col("n").as("n_users"),
        expr("CAST(floor(CAST(sy AS DOUBLE) / n * 1000) AS BIGINT)").as("mean_y_e3"),
        expr("""CAST(floor((CAST(sy AS DOUBLE) / n
               |  - theta * (CAST(sx AS DOUBLE) / n - CAST(sxp AS DOUBLE) / np)) * 1000)
               |AS BIGINT)""".stripMargin).as("adj_mean_e3"),
        expr("""CASE WHEN vy > 0 THEN
               |  CAST(floor((1 - (vy - 2 * theta * cxy + theta * theta * vx) / vy) * 1000000)
               |  AS BIGINT) END""".stripMargin).as("var_red_ppm"))
      .orderBy(col("arm"))
  }

  private val abCupedSql =
    """WITH p AS (
      |  SELECT user_id,
      |         date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
      |         CAST(floor(value * 1000) AS BIGINT) AS micro
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT (min(d) + max(d) + 1) // 2 AS bday FROM p),
      |pu AS (
      |  SELECT user_id % 2 AS arm,
      |         CAST(sum(CASE WHEN d < bday THEN micro ELSE 0 END) AS BIGINT) // 1000 AS x,
      |         CAST(sum(CASE WHEN d >= bday THEN micro ELSE 0 END) AS BIGINT) // 1000 AS y
      |  FROM p CROSS JOIN b GROUP BY user_id, arm),
      |pooled AS (
      |  SELECT CAST(count(*) AS BIGINT) AS np, CAST(sum(x) AS BIGINT) AS sxp,
      |         CAST(sum(x * x) AS BIGINT) AS sxxp, CAST(sum(x * y) AS BIGINT) AS sxyp,
      |         CAST(sum(y) AS BIGINT) AS syp
      |  FROM pu),
      |arms AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM pu GROUP BY arm),
      |j AS (
      |  SELECT a.*, p.*,
      |         CAST(np * sxyp - sxp * syp AS DOUBLE) / CAST(np * sxxp - sxp * sxp AS DOUBLE) AS theta,
      |         CAST(n * syy - sy * sy AS DOUBLE) AS vy,
      |         CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
      |         CAST(n * sxy - sx * sy AS DOUBLE) AS cxy
      |  FROM arms a CROSS JOIN pooled p)
      |SELECT arm, n AS n_users,
      |       CAST(floor(CAST(sy AS DOUBLE) / n * 1000) AS BIGINT) AS mean_y_e3,
      |       CAST(floor((CAST(sy AS DOUBLE) / n
      |         - theta * (CAST(sx AS DOUBLE) / n - CAST(sxp AS DOUBLE) / np)) * 1000)
      |       AS BIGINT) AS adj_mean_e3,
      |       CASE WHEN vy > 0 THEN
      |         CAST(floor((1 - (vy - 2 * theta * cxy + theta * theta * vx) / vy) * 1000000)
      |         AS BIGINT) END AS var_red_ppm
      |FROM j
      |ORDER BY arm""".stripMargin

  /** Hour-of-day activity profile — the capacity-planning readout behind
    * trigger scheduling and maintenance windows: per event type, the UTC
    * hourly histogram collapsed to its peak hour (ties → earliest hour),
    * the peak's share, the quietest hour, and the night share (00–05) —
    * all exact integer ppm over one (type, hour) aggregate. The session
    * pins UTC, so hour extraction is engine-identical.
    */
  def hourlyActivityProfile(s: SparkSession, dir: String): DataFrame = {
    val byHour = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    byHour.groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_events"),
        min_by(col("hr"), struct(-col("c"), col("hr"))).as("peak_hour"),
        max(col("c")).as("peak_count"),
        min_by(col("hr"), struct(col("c"), col("hr"))).as("quiet_hour"),
        sum(when(col("hr") < 6, col("c")).otherwise(0L)).as("night_count"))
      .select(col("event_type"), col("n_events"), col("peak_hour"),
        expr("peak_count * 1000000 div n_events").as("peak_share_ppm"),
        col("quiet_hour"),
        expr("night_count * 1000000 div n_events").as("night_share_ppm"))
      .orderBy(col("event_type"))
  }

  private val hourlyActivityProfileSql =
    """WITH h AS (
      |  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, hr, c,
      |         row_number() OVER (PARTITION BY event_type ORDER BY c DESC, hr) AS rp,
      |         row_number() OVER (PARTITION BY event_type ORDER BY c, hr) AS rq
      |  FROM h)
      |SELECT event_type,
      |       CAST(sum(c) AS BIGINT) AS n_events,
      |       CAST(max(CASE WHEN rp = 1 THEN hr END) AS BIGINT) AS peak_hour,
      |       CAST(max(CASE WHEN rp = 1 THEN c END) AS BIGINT) * 1000000
      |         // CAST(sum(c) AS BIGINT) AS peak_share_ppm,
      |       CAST(max(CASE WHEN rq = 1 THEN hr END) AS BIGINT) AS quiet_hour,
      |       CAST(sum(CASE WHEN hr < 6 THEN c ELSE 0 END) AS BIGINT) * 1000000
      |         // CAST(sum(c) AS BIGINT) AS night_share_ppm
      |FROM rk GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** User stickiness (DAU/WAU) — THE product-engagement ratio every growth
    * dashboard tracks beside the raw active curves: per day, distinct
    * daily actives over the trailing-7-day distinct actives in exact ppm
    * ([[rollingWau]]'s ×7 anchor-fan discipline supplies the WAU leg with
    * no range join and no Expand), summarized as day count, the floor-mean
    * ratio, and the extremes with their days. A habitual product holds
    * near 1e6/7 ≈ 143k ppm × 7; broadcast-joined day relations — nothing
    * beyond the user×day grain ever shuffles.
    */
  def userStickiness(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val pairs = keep(Tables.load(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_num"))
      .distinct())
    val grid = pairs.select(col("day_num").as("anchor")).distinct()
    val dau = pairs.groupBy(col("day_num").as("anchor"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = pairs
      .select(col("user_id"), col("day_num"), explode(expr("sequence(0L, 6L)")).as("o"))
      .select(col("user_id"), (col("day_num") + col("o")).as("anchor"))
      .join(broadcast(grid), Seq("anchor"), "left_semi")
      .groupBy(col("anchor"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val daily = dau.join(wau, "anchor")
      .select(col("anchor"), expr("dau * 1000000 div wau").as("stick_ppm"))
    val out = daily.agg(
      count(lit(1)).as("n_days"),
      expr("sum(stick_ppm) div count(1)").as("mean_stick_ppm"),
      min_by(col("anchor"), struct(col("stick_ppm"), col("anchor"))).as("min_day_num"),
      min(col("stick_ppm")).as("min_stick_ppm"),
      min_by(col("anchor"), struct(-col("stick_ppm"), col("anchor"))).as("max_day_num"),
      max(col("stick_ppm")).as("max_stick_ppm"))
    out
  }

  private val userStickinessSql =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |         date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day_num
      |  FROM events),
      |grid AS (SELECT DISTINCT day_num AS anchor FROM pairs),
      |dau AS (SELECT day_num AS anchor, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |        FROM pairs GROUP BY 1),
      |fan AS (SELECT p.user_id, p.day_num + o AS anchor FROM pairs p, range(7) t(o)),
      |wau AS (
      |  SELECT f.anchor, CAST(count(DISTINCT f.user_id) AS BIGINT) AS wau
      |  FROM fan f JOIN grid g ON g.anchor = f.anchor GROUP BY 1),
      |d AS (
      |  SELECT dau.anchor, dau * 1000000 // wau AS stick_ppm
      |  FROM dau JOIN wau ON dau.anchor = wau.anchor)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(stick_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_stick_ppm,
      |       CAST(max(CASE WHEN rmin = 1 THEN anchor END) AS BIGINT) AS min_day_num,
      |       CAST(min(stick_ppm) AS BIGINT) AS min_stick_ppm,
      |       CAST(max(CASE WHEN rmax = 1 THEN anchor END) AS BIGINT) AS max_day_num,
      |       CAST(max(stick_ppm) AS BIGINT) AS max_stick_ppm
      |FROM (SELECT *,
      |             row_number() OVER (ORDER BY stick_ppm, anchor) AS rmin,
      |             row_number() OVER (ORDER BY stick_ppm DESC, anchor) AS rmax
      |      FROM d)""".stripMargin

  /** attribution lookback window (hours) for [[attributionMultiTouch]] */
  val AttrWindowH = 72

  /** Multi-touch attribution: every purchase distributes EXACTLY 1e6 ppm of
    * credit linearly across the user's view/click touches in the prior
    * [[AttrWindowH]] hours (the integer split `1e6 div n`, remainder to the
    * earliest touch — so credit conservation is exact, never a float
    * epsilon), reported by touch type × position class (first / middle /
    * last; a single-touch purchase classifies "first"). The marketing
    * readout [[asofBoundedAttribution]]'s last-touch rule can't give:
    * how much conversion credit the early-funnel touches carry.
    *
    * 100 TB shape: one per-user range join bounded by the lookback window
    * (the [[windowFunnel]] discipline), then windows partitioned by
    * purchase id — state bounded by touches-per-purchase; the final
    * aggregate is 6 rows.
    */
  def attributionMultiTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("tp"), col("event_id").as("pid"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tu"), col("ts").as("tv"),
        col("event_id").as("tid"), col("event_type").as("touch_type"))
    val joined = p.join(t,
      col("pu") === col("tu") && col("tv") < col("tp") &&
        col("tv") >= col("tp") - expr(s"INTERVAL $AttrWindowH HOURS"))
    val wOrd = Window.partitionBy(col("pid")).orderBy(col("tv"), col("tid"))
    val wAll = Window.partitionBy(col("pid"))
    joined
      .withColumn("r", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("credit_ppm",
        expr("1000000 div n") +
          when(col("r") === 1, expr("1000000 % n")).otherwise(lit(0L)))
      .withColumn("pos_class",
        when(col("r") === 1, lit("first"))
          .when(col("r") === col("n"), lit("last"))
          .otherwise(lit("middle")))
      .groupBy(col("touch_type"), col("pos_class"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_ppm")).as("credit_ppm_sum"))
      .orderBy(col("touch_type"), col("pos_class"))
  }

  private val attributionMultiTouchSql =
    s"""WITH p AS (
      |  SELECT user_id AS pu, CAST(ts AS TIMESTAMP) AS tp, event_id AS pid
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id AS tu, CAST(ts AS TIMESTAMP) AS tv, event_id AS tid,
      |         event_type AS touch_type
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT pid, tv, tid, touch_type FROM p JOIN t ON pu = tu
      |  WHERE tv < tp AND tv >= tp - INTERVAL $AttrWindowH HOUR),
      |credited AS (
      |  SELECT touch_type,
      |         CAST(row_number() OVER (PARTITION BY pid ORDER BY tv, tid) AS BIGINT) AS r,
      |         CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n
      |  FROM j)
      |SELECT touch_type,
      |       CASE WHEN r = 1 THEN 'first'
      |            WHEN r = n THEN 'last'
      |            ELSE 'middle' END AS pos_class,
      |       CAST(count(*) AS BIGINT) AS n_touches,
      |       CAST(sum(1000000 // n +
      |                CASE WHEN r = 1 THEN 1000000 % n ELSE 0 END) AS BIGINT) AS credit_ppm_sum
      |FROM credited
      |GROUP BY 1, 2
      |ORDER BY touch_type, pos_class""".stripMargin

  /** Open-order aging report — the accounts-receivable-style backlog
    * breakdown: non-final orders (status O/P) bucketed by age against the
    * corpus max order date (frozen-dataset reproducible, like
    * [[graft.analytics.Mining.trendingDecay]]), with per-(status, bucket)
    * counts, exact cents value, and the value share of the whole open
    * backlog. The "how stale is our pipeline" operational readout; bucket
    * edges as integer day compares, oldest-first severity ordering baked
    * into the bucket label for sort-stable dashboards.
    *
    * 100 TB shape: one filtered scan with a broadcast 1-row max-date; the
    * aggregate is (status × 4 buckets)-sized.
    */
  def orderAging(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
      .where(col("o_orderstatus").isin("O", "P"))
      .select(col("o_orderstatus").as("status"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("d"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mx = Tables.load(s, dir, "orders")
      .agg(max(datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")).as("dmax"))
    val bucketed = od.crossJoin(broadcast(mx))
      .withColumn("age_d", col("dmax") - col("d"))
      .withColumn("bucket",
        when(col("age_d") <= 30, "1_0_30d")
          .when(col("age_d") <= 90, "2_31_90d")
          .when(col("age_d") <= 365, "3_91_365d")
          .otherwise(lit("4_over_1y")))
    val agg = bucketed.groupBy(col("status"), col("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("value_c"),
        max(col("age_d")).as("oldest_age_d"))
    val tot = agg.agg(sum(col("value_c")).as("tot_c"))
    agg.crossJoin(broadcast(tot))
      .select(col("status"), col("bucket"), col("n_orders"), col("value_c"),
        col("oldest_age_d"),
        // cents-sum × 1e6 passes 2^63 near 1e13 in total value — widen to
        // DECIMAL(38,0)/HUGEINT like the other money-share ppm sites
        expr("CAST(value_c AS DECIMAL(38,0)) * 1000000 div tot_c").as("value_share_ppm"))
      .orderBy(col("status"), col("bucket"))
  }

  private val orderAgingSql =
    """WITH od AS (
      |  SELECT o_orderstatus AS status,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderstatus IN ('O', 'P')),
      |mx AS (SELECT CAST(max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS dmax
      |       FROM orders),
      |b AS (
      |  SELECT status, cents, dmax - d AS age_d,
      |         CASE WHEN dmax - d <= 30 THEN '1_0_30d'
      |              WHEN dmax - d <= 90 THEN '2_31_90d'
      |              WHEN dmax - d <= 365 THEN '3_91_365d'
      |              ELSE '4_over_1y' END AS bucket
      |  FROM od CROSS JOIN mx),
      |agg AS (
      |  SELECT status, bucket, CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(sum(cents) AS BIGINT) AS value_c,
      |         CAST(max(age_d) AS BIGINT) AS oldest_age_d
      |  FROM b GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS tot_c FROM agg)
      |SELECT status, bucket, n_orders, value_c, oldest_age_d,
      |       CAST(CAST(value_c AS HUGEINT) * 1000000 // tot_c AS BIGINT) AS value_share_ppm
      |FROM agg CROSS JOIN tot
      |ORDER BY status, bucket""".stripMargin

  /** Growth accounting — the standard weekly MAU decomposition: every
    * active user of week w is exactly one of NEW (first-ever activity),
    * RETAINED (also active in w−1) or RESURRECTED (returning after a gap),
    * and CHURNED(w) = active(w−1) − retained(w); the quick ratio
    * (new + resurrected) / churned says whether growth out-runs leakage.
    * All classes are exact integer counts on the epoch-anchored week grid
    * (day div 7), mutually exclusive by construction (a first-ever week
    * cannot be retained). The decomposition every growth dashboard leads
    * with — one level deeper than [[rollingWau]]'s single curve.
    *
    * 100 TB shape: the fact collapses to the user×week grain immediately;
    * first-weeks and the week-shifted self-join are user-domain relations;
    * weekly totals join week-to-week.
    */
  def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), '1970-01-01') AS BIGINT) div 7").as("w"))
      .distinct()
    val fw = uw.groupBy(col("user_id")).agg(min(col("w")).as("firstw"))
    val prev = uw.select(col("user_id"), (col("w") + 1).as("w"), lit(1L).as("was_prev"))
    val flagged = uw.join(fw, "user_id")
      .join(prev, Seq("user_id", "w"), "left")
      .select(col("w"),
        when(col("w") === col("firstw"), 1L).otherwise(0L).as("is_new"),
        coalesce(col("was_prev"), lit(0L)).as("is_ret"))
    val weekly = flagged.groupBy(col("w"))
      .agg(count(lit(1)).as("n_active"), sum(col("is_new")).as("n_new"),
        sum(col("is_ret")).as("n_retained"))
      .withColumn("n_resurrected", col("n_active") - col("n_new") - col("n_retained"))
    val lastWeek = weekly.select((col("w") + 1).as("w"), col("n_active").as("prev_active"))
    weekly.join(lastWeek, Seq("w"), "left")
      .select(col("w").as("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained")).as("n_churned"))
      .withColumn("quick_ratio_ppm",
        expr("""CASE WHEN n_churned > 0
               |THEN (n_new + n_resurrected) * 1000000 div n_churned END""".stripMargin))
      .orderBy(col("week"))
  }

  private val growthAccountingSql =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |         date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS w
      |  FROM events),
      |fw AS (SELECT user_id, min(w) AS firstw FROM uw GROUP BY 1),
      |flagged AS (
      |  SELECT uw.w,
      |         CASE WHEN uw.w = fw.firstw THEN 1 ELSE 0 END AS is_new,
      |         CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS is_ret
      |  FROM uw
      |  JOIN fw ON fw.user_id = uw.user_id
      |  LEFT JOIN uw p ON p.user_id = uw.user_id AND p.w = uw.w - 1),
      |weekly AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS n_active,
      |         CAST(sum(is_new) AS BIGINT) AS n_new,
      |         CAST(sum(is_ret) AS BIGINT) AS n_retained
      |  FROM flagged GROUP BY w)
      |SELECT a.w AS week, a.n_active, a.n_new, a.n_retained,
      |       a.n_active - a.n_new - a.n_retained AS n_resurrected,
      |       coalesce(b.n_active, 0) - a.n_retained AS n_churned,
      |       CASE WHEN coalesce(b.n_active, 0) - a.n_retained > 0
      |            THEN (a.n_new + (a.n_active - a.n_new - a.n_retained)) * 1000000
      |                 // (coalesce(b.n_active, 0) - a.n_retained) END AS quick_ratio_ppm
      |FROM weekly a LEFT JOIN weekly b ON b.w = a.w - 1
      |ORDER BY week""".stripMargin

  /** Newsvendor stocking quantities — the classic single-period inventory
    * rule: stock the q*-quantile of the demand distribution where the
    * critical fractile q* = cu / (cu + co) balances underage cost against
    * overage cost (cu = 3, co = 1 → q* = 3/4 here). Demand is the
    * per-(brand, month) shipped-quantity series; the optimal stock is its
    * exact discrete 0.75-quantile per brand via
    * [[graft.operators.ExactQuantile]] (the ceil(q·n) rank rule pinned
    * against DuckDB `quantile_disc`), with the median alongside as the
    * naive stock the fractile corrects — the gap between the two IS the
    * service-level premium. All integer, hash-gated.
    *
    * 100 TB shape: one fact aggregate to the (brand × month) domain
    * (map-side combined), then the quantile histogram runs on that bounded
    * relation — the fact is scanned once and never re-shuffled.
    */
  def newsvendorStock(s: SparkSession, dir: String): DataFrame = {
    val demand = Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(sum(col("l_quantity").cast("long")).as("demand"))
    graft.operators.ExactQuantile
      .groupQuantilesDisc(demand, Seq("p_brand"), "demand", Seq(0.5, 0.75))
      .select(col("p_brand"), col("demand_q0").as("med_demand"),
        col("demand_q1").as("stock_q75"), col("n").as("n_months"))
  }

  private val newsvendorStockSql =
    """WITH d AS (
      |  SELECT p_brand, strftime(l_shipdate, '%Y-%m') AS month,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2)
      |SELECT p_brand,
      |       quantile_disc(demand, 0.5) AS med_demand,
      |       quantile_disc(demand, 0.75) AS stock_q75,
      |       count(*) AS n_months
      |FROM d GROUP BY 1""".stripMargin

  /** ABC (Pareto) classification of parts by net revenue — the inventory
    * analysis behind "80% of revenue sits in class A": parts ranked by
    * exact integer cents, class A while the INCLUSIVE cumulative share is
    * ≤ 80%, B to 95%, C beyond (thresholds as integer cross-products —
    * `cum·5 ≤ tot·4`, never a float share). Emits the three classes with
    * part counts, revenue, and exact ppm shares — [[giniSpend]]'s
    * actionable sibling (Gini says HOW concentrated; ABC says WHICH items
    * to manage tightly).
    *
    * 100 TB shape: one fact partial-aggregate to the part domain; the rank
    * window rides the single-partition pid idiom over that bounded
    * relation; the class reduce is 3 rows.
    */
  def abcClassification(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val rev = li.groupBy(col("l_partkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("rev_c"))
    val one = rev.repartition(1).withColumn("pid", spark_partition_id())
    val wOrd = Window.partitionBy(col("pid")).orderBy(col("rev_c").desc, col("l_partkey"))
    val wAll = Window.partitionBy(col("pid"))
    one
      .withColumn("cum", sum(col("rev_c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("rev_c")).over(wAll))
      .withColumn("cls",
        when(col("cum") * 5 <= col("tot") * 4, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise(lit("C")))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev_c")).as("revenue_c"),
        max(col("tot")).as("tot"))
      .select(col("cls"), col("n_parts"), col("revenue_c"),
        // money-sum × 1e6 overflow guard (same DECIMAL38/HUGEINT widening)
        expr("CAST(revenue_c AS DECIMAL(38,0)) * 1000000 div tot").as("share_ppm"))
      .orderBy(col("cls"))
  }

  private val abcClassificationSql =
    """WITH rev AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT l_partkey, rev_c,
      |         CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         CAST(sum(rev_c) OVER () AS BIGINT) AS tot
      |  FROM rev),
      |classed AS (
      |  SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
      |              WHEN cum * 20 <= tot * 19 THEN 'B'
      |              ELSE 'C' END AS cls,
      |         rev_c, tot
      |  FROM cum)
      |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
      |       CAST(sum(rev_c) AS BIGINT) AS revenue_c,
      |       CAST(CAST(sum(rev_c) AS HUGEINT) * 1000000 // CAST(max(tot) AS BIGINT) AS BIGINT) AS share_ppm
      |FROM classed GROUP BY cls
      |ORDER BY cls""".stripMargin

  /** Behavioral retention lift — "which behaviors predict that a user
    * sticks around": the observation window splits at the data-derived 75%
    * day (pre-period = first three quarters, retention = any activity in
    * the last quarter); for each event type, the retention rate of
    * pre-period users who exhibited it vs the overall pre-period base rate,
    * as an exact integer-ppm lift. The prioritization readout a growth team
    * runs before picking an activation metric. (Correlational by
    * construction — the CAUSAL version is [[abDiffInDiff]].)
    *
    * 100 TB shape: collapses to user×type and user domains immediately
    * (distinct projections), every aggregate user-domain-bounded, boundary
    * broadcast from a 1-row reduce; no mixed distinct aggregates anywhere.
    */
  def retentionLift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
    val bounds = ev.agg(expr("min(d) + ((max(d) - min(d)) * 3) div 4").as("b"))
    val e = ev.crossJoin(broadcast(bounds))
    val pre = e.where(col("d") <= col("b")).select("user_id").distinct()
    val ret = e.where(col("d") > col("b")).select("user_id").distinct()
      .withColumn("r", lit(1L))
    val preR = pre.join(ret, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("r"), lit(0L)).as("r"))
    val base = preR.agg(count(lit(1)).as("n_base"), sum(col("r")).as("r_base"))
    val perType = e.where(col("d") <= col("b"))
      .select("user_id", "event_type").distinct()
      .join(preR, "user_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("r")).as("n_retained"))
    perType.crossJoin(broadcast(base))
      .select(col("event_type"), col("n_users"), col("n_retained"),
        expr("n_retained * 1000000 div n_users").as("rate_ppm"),
        expr("r_base * 1000000 div n_base").as("base_rate_ppm"),
        // 128-bit intermediates: n_retained·n_base·1e6 overflows int64 once
        // the user domain passes ~3e5² (certain at 100 TB); DECIMAL(38,0)
        // products are exact to 38 digits and `div` returns BIGINT. The
        // DuckDB twin widens via HUGEINT — same exact integer quotient.
        expr("""CASE WHEN r_base > 0
               |THEN CAST(n_retained AS DECIMAL(38,0)) * n_base * 1000000
               |     div (CAST(n_users AS DECIMAL(38,0)) * r_base) END""".stripMargin)
          .as("lift_ppm"))
      .orderBy(col("event_type"))
  }

  private val retentionLiftSql =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
      |  FROM events),
      |bnd AS (SELECT min(d) + ((max(d) - min(d)) * 3) // 4 AS b FROM ev),
      |e AS (SELECT ev.*, b FROM ev CROSS JOIN bnd),
      |pre AS (SELECT DISTINCT user_id FROM e WHERE d <= b),
      |ret AS (SELECT DISTINCT user_id FROM e WHERE d > b),
      |prer AS (
      |  SELECT p.user_id, CASE WHEN r.user_id IS NULL THEN 0 ELSE 1 END AS r
      |  FROM pre p LEFT JOIN ret r ON r.user_id = p.user_id),
      |base AS (SELECT CAST(count(*) AS BIGINT) AS n_base,
      |                CAST(sum(r) AS BIGINT) AS r_base FROM prer),
      |ut AS (SELECT DISTINCT user_id, event_type FROM e WHERE d <= b),
      |per AS (
      |  SELECT ut.event_type, CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(p.r) AS BIGINT) AS n_retained
      |  FROM ut JOIN prer p ON p.user_id = ut.user_id
      |  GROUP BY 1)
      |SELECT event_type, n_users, n_retained,
      |       n_retained * 1000000 // n_users AS rate_ppm,
      |       r_base * 1000000 // n_base AS base_rate_ppm,
      |       CASE WHEN r_base > 0
      |            THEN CAST(CAST(n_retained AS HUGEINT) * n_base * 1000000
      |                      // (CAST(n_users AS HUGEINT) * r_base) AS BIGINT) END AS lift_ppm
      |FROM per CROSS JOIN base
      |ORDER BY event_type""".stripMargin

  /** Quantile treatment effect — the distributional A/B readout
    * [[abLift]]'s mean cannot give: per-arm p25/p50/p75/p90 of per-user
    * purchase spend (exact discrete quantiles via the verified ceil-rank
    * histogram rule, [[graft.operators.ExactQuantile]]) and the per-quantile
    * treat−control deltas. A treatment that moves only the tail (or only
    * the median) is invisible to the mean and obvious here; all integer
    * milli-units end to end.
    *
    * 100 TB shape: per-user partial aggregate, then histogram-scale
    * windows keyed by arm (state bounded by spend NDV ≤ user domain); the
    * effect join is 1×1 rows.
    */
  def abQuantileEffect(s: SparkSession, dir: String): DataFrame = {
    val pu = Tables.load(s, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sp"))
      .select("arm", "sp")
    val q = graft.operators.ExactQuantile
      .groupQuantilesDisc(pu, Seq("arm"), "sp", Seq(0.25, 0.5, 0.75, 0.9))
    def side(arm: Int, sfx: String) = q.where(col("arm") === arm)
      .select(col("n").as(s"n_$sfx"),
        col("sp_q0").as(s"p25_$sfx"), col("sp_q1").as(s"p50_$sfx"),
        col("sp_q2").as(s"p75_$sfx"), col("sp_q3").as(s"p90_$sfx"))
    side(0, "ctrl").crossJoin(side(1, "treat"))
      .select(col("*"),
        (col("p25_treat") - col("p25_ctrl")).as("d25"),
        (col("p50_treat") - col("p50_ctrl")).as("d50"),
        (col("p75_treat") - col("p75_ctrl")).as("d75"),
        (col("p90_treat") - col("p90_ctrl")).as("d90"))
  }

  private val abQuantileEffectSql =
    """WITH pu AS (
      |  SELECT user_id % 2 AS arm,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sp
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, user_id % 2),
      |q AS (
      |  SELECT arm,
      |         quantile_disc(sp, 0.25) AS q0, quantile_disc(sp, 0.5) AS q1,
      |         quantile_disc(sp, 0.75) AS q2, quantile_disc(sp, 0.9) AS q3,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM pu GROUP BY arm)
      |SELECT c.n AS n_ctrl, c.q0 AS p25_ctrl, c.q1 AS p50_ctrl,
      |       c.q2 AS p75_ctrl, c.q3 AS p90_ctrl,
      |       t.n AS n_treat, t.q0 AS p25_treat, t.q1 AS p50_treat,
      |       t.q2 AS p75_treat, t.q3 AS p90_treat,
      |       t.q0 - c.q0 AS d25, t.q1 - c.q1 AS d50,
      |       t.q2 - c.q2 AS d75, t.q3 - c.q3 AS d90
      |FROM (SELECT * FROM q WHERE arm = 0) c, (SELECT * FROM q WHERE arm = 1) t""".stripMargin

  /** Per-user temporal burstiness + behavioral-diversity profile — the
    * bot/spam screen over the event stream: inter-arrival gaps in whole
    * seconds (exact integer µs difference, floor-divided), their exact
    * integer moments, the squared coefficient of variation as a
    * fixed-sequence correctly-rounded double: cv2_ppm = floor(n·Σg²/(Σg)²
    * ·1e6) − 1e6, i.e. the second-moment ratio minus the 1e6 the mean²
    * term always contributes (CV² ≈ 1e6 ppm for a Poisson user, ≈ 0 for a
    * metronomic bot, ≫ 1e6 for bursty humans), and the Gini
    * impurity of the user's event-type mix (log-free diversity: 1 − Σp²,
    * exact integer ppm) with the dominant type share. Scripted accounts
    * show near-zero CV² and near-zero type diversity simultaneously.
    *
    * 100 TB shape: gaps come from ONE user-partitioned window pass (the
    * sessionization shape); both profiles aggregate to the user domain and
    * join user-to-user. Σgap² stays in int64 (gaps in seconds: a 10-year
    * span is 3e8 s, squared 9e16 — one gap; sums bounded by span·max_gap
    * ≤ 9e16·k only for pathological single-gap users, and the per-user
    * event cap of the generated domain keeps it far below 2^63; CV² itself
    * is computed in doubles from the exact sums).
    */
  def userBurstiness(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = ev
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("pus", lag(col("us"), 1).over(w))
      .where(col("pus").isNotNull)
      .select(col("user_id"), expr("(us - pus) div 1000000").as("g"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sg2"))
    val types = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sc2"), max(col("c")).as("max_c"))
    types.join(gaps, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("n_gaps"),
        col("sg").as("sum_gap_s"),
        expr("sg div n_gaps").as("mean_gap_s"),
        expr("""CASE WHEN sg > 0 THEN
               |  CAST(floor(CAST(sg2 AS DOUBLE) / sg / sg * n_gaps * 1000000) AS BIGINT) - 1000000
               |END""".stripMargin).as("cv2_ppm"),
        col("n_types"),
        (lit(1000000L) - expr("sc2 * 1000000 div (n_events * n_events)")).as("gini_ppm"),
        expr("max_c * 1000000 div n_events").as("top_type_ppm"))
      .orderBy(col("user_id"))
  }

  private val userBurstinessSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |g0 AS (
      |  SELECT user_id,
      |         us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dus
      |  FROM e),
      |gaps AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
      |         CAST(sum(dus // 1000000) AS BIGINT) AS sg,
      |         CAST(sum((dus // 1000000) * (dus // 1000000)) AS BIGINT) AS sg2
      |  FROM g0 WHERE dus IS NOT NULL GROUP BY 1),
      |types AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
      |         CAST(sum(c) AS BIGINT) AS n_events,
      |         CAST(sum(c * c) AS BIGINT) AS sc2,
      |         CAST(max(c) AS BIGINT) AS max_c
      |  FROM (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |        FROM e GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT t.user_id, t.n_events, g.n_gaps, g.sg AS sum_gap_s,
      |       g.sg // g.n_gaps AS mean_gap_s,
      |       CASE WHEN g.sg > 0 THEN
      |         CAST(floor(CAST(g.sg2 AS DOUBLE) / g.sg / g.sg * g.n_gaps * 1000000) AS BIGINT) - 1000000
      |       END AS cv2_ppm,
      |       t.n_types,
      |       1000000 - t.sc2 * 1000000 // (t.n_events * t.n_events) AS gini_ppm,
      |       t.max_c * 1000000 // t.n_events AS top_type_ppm
      |FROM types t JOIN gaps g ON g.user_id = t.user_id
      |ORDER BY t.user_id""".stripMargin

  /** A/B conversion significance: the 2×2 chi-square test on per-arm
    * converter counts (a user converts if they purchased at least once).
    * The statistic
    *
    *   chi2 = n·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * is computed as ONE double division of two exact int64 products (cell
    * counts are user-domain-bounded, so n·det² < 2^53 and the 4-margin
    * product < 2^63 — both operands integer-exact, the lone division
    * correctly rounded → bit-equal cross-engine), emitted as floor-milli
    * with the 3.841 critical-value verdict (alpha = 0.05, df = 1) as an
    * integer flag. The decision an experimentation readout actually needs
    * on top of [[abLift]]'s point estimate.
    *
    * 100 TB shape: same as abLift — per-user aggregate, then a 2-row
    * reduce; the test itself is O(1).
    */
  def abSignificance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    // conversion = at least one HIGH-VALUE purchase (value >= 200): nearly
    // every user purchases something, which would empty the non-converter
    // margin and make the test degenerate
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200,
        1L).otherwise(0L)).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    val cells = perUser.groupBy(col("arm"))
      .agg(sum(col("conv")).as("conv"),
        sum(lit(1L) - col("conv")).as("nonconv"))
    val a0 = cells.where(col("arm") === 0)
      .select(col("conv").as("a"), col("nonconv").as("b"))
    val a1 = cells.where(col("arm") === 1)
      .select(col("conv").as("c"), col("nonconv").as("d"))
    a0.crossJoin(a1)
      .select(
        col("a").as("n_conv_0"), col("b").as("n_nonconv_0"),
        col("c").as("n_conv_1"), col("d").as("n_nonconv_1"),
        expr("a * 1000000 div (a + b)").as("conv0_ppm"),
        expr("c * 1000000 div (c + d)").as("conv1_ppm"),
        expr("""CAST(floor(CAST((a + b + c + d) * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
               | / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE) * 1000) AS BIGINT)"""
          .stripMargin).as("chi2_milli"))
      .withColumn("significant_05", when(col("chi2_milli") >= 3841L, 1L).otherwise(0L))
  }

  private val abSignificanceSql =
    """WITH pu AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |         CAST(max(CASE WHEN event_type = 'purchase' AND value >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |  FROM events GROUP BY 1, 2),
      |cells AS (
      |  SELECT arm, CAST(sum(conv) AS BIGINT) AS conv,
      |         CAST(sum(1 - conv) AS BIGINT) AS nonconv
      |  FROM pu GROUP BY arm),
      |t AS (
      |  SELECT a0.conv AS a, a0.nonconv AS b, a1.conv AS c, a1.nonconv AS d
      |  FROM (SELECT * FROM cells WHERE arm = 0) a0,
      |       (SELECT * FROM cells WHERE arm = 1) a1)
      |SELECT a AS n_conv_0, b AS n_nonconv_0, c AS n_conv_1, d AS n_nonconv_1,
      |       a * 1000000 // (a + b) AS conv0_ppm,
      |       c * 1000000 // (c + d) AS conv1_ppm,
      |       CAST(floor(CAST((a + b + c + d) * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
      |         / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE) * 1000) AS BIGINT) AS chi2_milli,
      |       CAST(CASE WHEN CAST(floor(CAST((a + b + c + d) * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
      |         / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE) * 1000) AS BIGINT) >= 3841
      |            THEN 1 ELSE 0 END AS BIGINT) AS significant_05
      |FROM t""".stripMargin

  /** mix-shift comparison years */
  val MixY1 = 1996
  val MixY2 = 1997

  /** Kitagawa / mix-shift decomposition of the year-over-year change in
    * average order value by market segment: for each segment the change
    * contribution splits into
    *
    *   mix  = (w2 − w1)·r1      (the segment's share moved)
    *   rate = w1·(r2 − r1)      (the segment's own average moved)
    *   inter = (w2 − w1)·(r2 − r1)
    *
    * with w = segment share of orders and r = segment average value — the
    * standard answer to "did revenue/order change because the business
    * shifted toward pricier segments, or because segments themselves got
    * pricier?". Shares/rates are single correctly-rounded divisions of
    * exact integer sums and the effects fixed short op sequences, so the
    * floor-milli-cent outputs hash-gate; the additive identity
    * (Σ effects = Δ overall) is spec-pinned with floor tolerance.
    *
    * 100 TB shape: one fact scan → (segment × 2 years) sufficient stats
    * (partial-aggregated), two 1-row year totals broadcast back. Segment
    * domain bounds everything downstream.
    */
  def mixShiftDecomp(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
    val cu = Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val base = od.filter(year(col("o_orderdate")).isin(MixY1, MixY2))
      .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        sum(when(year(col("o_orderdate")) === MixY1, 1L).otherwise(0L)).as("n1"),
        sum(when(year(col("o_orderdate")) === MixY1,
          floor(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("s1"),
        sum(when(year(col("o_orderdate")) === MixY2, 1L).otherwise(0L)).as("n2"),
        sum(when(year(col("o_orderdate")) === MixY2,
          floor(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("s2"))
    base.crossJoin(broadcast(base.agg(
        sum(col("n1")).as("tn1"), sum(col("n2")).as("tn2"))))
      .select(
        col("segment"), col("n1"), col("n2"),
        expr("n1 * 1000000 div tn1").as("share1_ppm"),
        expr("n2 * 1000000 div tn2").as("share2_ppm"),
        expr("s1 div n1").as("rate1_c"),
        expr("s2 div n2").as("rate2_c"),
        expr("""CAST(floor((CAST(n2 AS DOUBLE) / tn2 - CAST(n1 AS DOUBLE) / tn1)
               | * (CAST(s1 AS DOUBLE) / n1) * 1000) AS BIGINT)""".stripMargin)
          .as("mix_mc"),
        expr("""CAST(floor((CAST(n1 AS DOUBLE) / tn1)
               | * (CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1) * 1000) AS BIGINT)"""
          .stripMargin).as("rate_mc"),
        expr("""CAST(floor((CAST(n2 AS DOUBLE) / tn2 - CAST(n1 AS DOUBLE) / tn1)
               | * (CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1) * 1000) AS BIGINT)"""
          .stripMargin).as("inter_mc"))
      .orderBy(col("segment"))
  }

  private val mixShiftDecompSql =
    s"""WITH base AS (
      |  SELECT c_mktsegment AS segment,
      |         CAST(sum(CASE WHEN year(o_orderdate) = $MixY1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN year(o_orderdate) = $MixY1
      |                       THEN CAST(floor(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
      |         CAST(sum(CASE WHEN year(o_orderdate) = $MixY2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(sum(CASE WHEN year(o_orderdate) = $MixY2
      |                       THEN CAST(floor(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s2
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) IN ($MixY1, $MixY2)
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(n1) AS BIGINT) AS tn1, CAST(sum(n2) AS BIGINT) AS tn2 FROM base)
      |SELECT segment, n1, n2,
      |       n1 * 1000000 // tn1 AS share1_ppm,
      |       n2 * 1000000 // tn2 AS share2_ppm,
      |       s1 // n1 AS rate1_c,
      |       s2 // n2 AS rate2_c,
      |       CAST(floor((CAST(n2 AS DOUBLE) / tn2 - CAST(n1 AS DOUBLE) / tn1)
      |         * (CAST(s1 AS DOUBLE) / n1) * 1000) AS BIGINT) AS mix_mc,
      |       CAST(floor((CAST(n1 AS DOUBLE) / tn1)
      |         * (CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1) * 1000) AS BIGINT) AS rate_mc,
      |       CAST(floor((CAST(n2 AS DOUBLE) / tn2 - CAST(n1 AS DOUBLE) / tn1)
      |         * (CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1) * 1000) AS BIGINT) AS inter_mc
      |FROM base CROSS JOIN tot ORDER BY segment""".stripMargin

  /** Gini coefficient + top-decile share of per-user purchase spend — the
    * concentration readout ("how unequal is our revenue base?"). With
    * spend sorted ascending (rank r over a deterministic (spend, user)
    * order — equal spends commute in Σr·x, so ties cannot move the
    * statistic):
    *
    *   G = (2·Σ r·x − (n+1)·Σ x) / (n·Σ x)
    *
    * both operands exact int64, ONE correctly-rounded division, floor-ppm
    * (the ab_significance discipline). The top-10% share is pure integer
    * arithmetic on the same ranked relation.
    *
    * 100 TB shape: fact collapses to per-user sums first. The global rank
    * never runs a single-partition window over the USER-scaled relation
    * (spend sums are near-unique, so even their histogram is user-scaled):
    * rank = (rows with smaller x, from a two-level bucket prefix sum over
    * the spend histogram) + (a per-x tie window ordered by user_id —
    * tie-class-bounded). The only single-task stage is the spend-range/1024
    * bucket-offset relation, and the offsets join back co-partitioned with
    * the tie window's own x shuffle.
    */
  def giniSpend(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val spend = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
    val hist = spend.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .withColumn("bkt", expr("x div 1024"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val sizes = hist.groupBy("bkt").agg(sum(col("c")).as("tc"))
      .repartition(1).withColumn("pid", spark_partition_id())
    val bOff = sizes.withColumn("cum", sum(col("tc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid").orderBy("bkt")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .select(col("bkt"), (col("cum") - col("tc")).as("boff"))
    val off = hist.join(broadcast(bOff), "bkt")
      .withColumn("cum", col("boff") + sum(col("c")).over(wCum))
      .select(col("x"), (col("cum") - col("c")).as("off"))
    val ranked = spend
      .withColumn("rw", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("x")
          .orderBy("user_id")).cast("long"))
      .join(off, "x")
      .withColumn("r", col("off") + col("rw"))
      .drop("rw", "off")
    ranked.crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
      .agg(
        max(col("n")).as("n_users"),
        sum(col("x")).as("total_mc"),
        sum(col("r") * col("x")).as("rx"),
        sum(when(col("r") > col("n") - expr("n div 10"), col("x"))
          .otherwise(0L)).as("top_decile_mc"))
      .select(
        col("n_users"), col("total_mc"),
        expr("""CAST(floor(CAST(2 * rx - (n_users + 1) * total_mc AS DOUBLE)
               | / CAST(n_users * total_mc AS DOUBLE) * 1000000) AS BIGINT)"""
          .stripMargin).as("gini_ppm"),
        // money-sum × 1e6 overflow guard (same DECIMAL38/HUGEINT widening)
        expr("CAST(top_decile_mc AS DECIMAL(38,0)) * 1000000 div total_mc")
          .as("top10_share_ppm"))
  }

  private val giniSpendSql =
    """WITH spend AS (
      |  SELECT user_id, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ranked AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS r,
      |         (SELECT CAST(count(*) AS BIGINT) FROM spend) AS n
      |  FROM spend)
      |SELECT max(n) AS n_users, CAST(sum(x) AS BIGINT) AS total_mc,
      |       CAST(floor(CAST(2 * CAST(sum(r * x) AS BIGINT) - (max(n) + 1) * CAST(sum(x) AS BIGINT) AS DOUBLE)
      |         / CAST(max(n) * CAST(sum(x) AS BIGINT) AS DOUBLE) * 1000000) AS BIGINT) AS gini_ppm,
      |       CAST(CAST(sum(CASE WHEN r > n - n // 10 THEN x ELSE 0 END) AS HUGEINT) * 1000000
      |         // CAST(sum(x) AS BIGINT) AS BIGINT) AS top10_share_ppm
      |FROM ranked""".stripMargin

  /** Order-fulfillment lag profile — the accumulating-snapshot warehouse
    * metric: days from order placement to each line's ship date, as exact
    * discrete quantiles (the verified `ceil(q·n)` 1-based rank rule from
    * [[graft.operators.ExactQuantile]], computed on the lag-value HISTOGRAM
    * — day-domain-bounded state, never a row sort) plus the floor-mean and
    * the worst tail.
    *
    * 100 TB shape: one broadcast-dim join, one partial-aggregated histogram
    * over the calendar-bounded lag domain, then histogram-scale windows.
    */
  def fulfillmentLag(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    val od = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val lags = li.join(od, col("l_orderkey") === col("o_orderkey"))
      .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
        .cast("long").as("lag"))
      .groupBy(col("lag")).agg(count(lit(1)).as("c"))
    val cum = lags.repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("lag"))))
      .crossJoin(broadcast(lags.agg(
        sum(col("c")).as("n"), sum(col("lag") * col("c")).as("lagsum"))))
    def q(p: Int): org.apache.spark.sql.Column =
      min(when(col("cum") * 100 >= col("n") * p, col("lag"))).as(s"p$p")
    cum.agg(
        max(col("n")).as("n_lines"),
        min(col("lag")).as("min_lag"),
        q(50), q(90), q(99),
        max(col("lag")).as("max_lag"),
        expr("max(lagsum) div max(n)").as("mean_lag_floor"))
  }

  private val fulfillmentLagSql =
    """WITH lags AS (
      |  SELECT CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS lag,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |cum AS (
      |  SELECT lag, c, CAST(sum(c) OVER (ORDER BY lag) AS BIGINT) AS cum,
      |         (SELECT CAST(sum(c) AS BIGINT) FROM lags) AS n,
      |         (SELECT CAST(sum(lag * c) AS BIGINT) FROM lags) AS lagsum
      |  FROM lags)
      |SELECT max(n) AS n_lines, min(lag) AS min_lag,
      |       min(CASE WHEN cum * 100 >= n * 50 THEN lag END) AS p50,
      |       min(CASE WHEN cum * 100 >= n * 90 THEN lag END) AS p90,
      |       min(CASE WHEN cum * 100 >= n * 99 THEN lag END) AS p99,
      |       max(lag) AS max_lag,
      |       max(lagsum) // max(n) AS mean_lag_floor
      |FROM cum""".stripMargin

  /** Cohort lifetime-value curves — the revenue companion of
    * [[cohortRetention]]: users grouped by acquisition month (first event
    * of any type), purchase spend accumulated by cohort AGE in months,
    * emitted as the running total and the per-user LTV (integer
    * milli-cents, floor division). The curve a growth team reads payback
    * periods from. All integer: month indices are y*12+m ints, spend is
    * floor-milli-cent sums, the cumulative is a cohort-partitioned window.
    *
    * 100 TB shape: per-user frame (one aggregate, broadcast back), one
    * (cohort, age) aggregate, then windows over the months×cohorts-bounded
    * curve relation.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM").as("ym"),
        col("event_type"), col("value"))
    val cohorts = keep(ev.groupBy(col("user_id")).agg(min(col("ym")).as("cohort")))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    val curve = ev.filter(col("event_type") === "purchase")
      .join(broadcast(cohorts), "user_id")
      .groupBy(col("cohort"),
        expr("""(CAST(substr(ym, 1, 4) AS INT) * 12 + CAST(substr(ym, 6, 2) AS INT))
               | - (CAST(substr(cohort, 1, 4) AS INT) * 12 + CAST(substr(cohort, 6, 2) AS INT))"""
          .stripMargin).cast("long").as("age_m"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("spend_mc"))
    val out = curve.join(broadcast(sizes), Seq("cohort"))
      .withColumn("cum_spend_mc", sum(col("spend_mc")).over(
        Window.partitionBy(col("cohort")).orderBy(col("age_m"))))
      .select(col("cohort"), col("age_m"), col("n_users"), col("spend_mc"),
        col("cum_spend_mc"),
        expr("cum_spend_mc div n_users").as("ltv_per_user_mc"))
      .orderBy(col("cohort"), col("age_m"))
    out
  }

  private val cohortLtvSql =
    """WITH e AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS ym,
      |         event_type, value
      |  FROM events),
      |c AS (SELECT user_id, min(ym) AS cohort FROM e GROUP BY 1),
      |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM c GROUP BY 1),
      |curve AS (
      |  SELECT cohort,
      |         CAST((CAST(substr(ym, 1, 4) AS INT) * 12 + CAST(substr(ym, 6, 2) AS INT))
      |           - (CAST(substr(cohort, 1, 4) AS INT) * 12 + CAST(substr(cohort, 6, 2) AS INT)) AS BIGINT) AS age_m,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS spend_mc
      |  FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT cohort, age_m, n_users, spend_mc,
      |       CAST(sum(spend_mc) OVER (PARTITION BY cohort ORDER BY age_m) AS BIGINT) AS cum_spend_mc,
      |       CAST(sum(spend_mc) OVER (PARTITION BY cohort ORDER BY age_m) AS BIGINT) // n_users AS ltv_per_user_mc
      |FROM curve JOIN sz USING (cohort)
      |ORDER BY cohort, age_m""".stripMargin

  /** funnel window in hours for [[windowFunnel]] */
  val FunnelWindowH = 72

  /** Time-constrained funnel (ClickHouse's `windowFunnel` semantics — the
    * reference stack's native engine exposes exactly this): per user, the
    * deepest view → click → purchase chain where EVERY later step lands
    * within [[FunnelWindowH]] hours of the ANCHOR view and steps are
    * strictly ordered in time. Unlike [[Analytics]]'s whole-history
    * funnels, the window makes it a genuine temporal-join problem: a user
    * who clicked six months after the view does not convert. Emits users
    * at each max depth (1..3) plus the conversion ppm into each level.
    *
    * 100 TB shape: events split per type ONCE; the step joins are per-user
    * equi-joins with range predicates (bounded by per-user×window event
    * counts); depth classification is one aggregate. At cluster scale the
    * same plan runs per user-id partition with no global state.
    */
  def windowFunnel(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val ev = Tables.load(s, dir, "events")
    def step(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id").as(s"u_$t"), col("ts").as(s"ts_$t"))
    val views = keep(step("view"))
    views.count() // scanned by u1 and both join legs: materialize once
    // depth 2: a click strictly after the view, within the window of the view
    val d2 = views.join(step("click"),
        col("u_view") === col("u_click") &&
          col("ts_click") > col("ts_view") &&
          col("ts_click") <= col("ts_view") + expr(s"INTERVAL $FunnelWindowH HOURS"))
    // depth 3: a purchase strictly after that click, still within the window
    // anchored at the SAME view
    val d3 = d2.join(step("purchase"),
        col("u_view") === col("u_purchase") &&
          col("ts_purchase") > col("ts_click") &&
          col("ts_purchase") <= col("ts_view") + expr(s"INTERVAL $FunnelWindowH HOURS"))
    val u1 = views.select(col("u_view").as("user_id")).distinct()
    val u2 = d2.select(col("u_view").as("user_id")).distinct()
    val u3 = d3.select(col("u_view").as("user_id")).distinct()
    val out = u1.agg(count(lit(1)).as("n_depth1"))
      .crossJoin(broadcast(u2.agg(count(lit(1)).as("n_depth2"))))
      .crossJoin(broadcast(u3.agg(count(lit(1)).as("n_depth3"))))
      .select(col("n_depth1"), col("n_depth2"), col("n_depth3"),
        expr("n_depth2 * 1000000 div n_depth1").as("conv2_ppm"),
        expr("n_depth3 * 1000000 div n_depth1").as("conv3_ppm"))
    out
  }

  private val windowFunnelSql =
    s"""WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tv FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tc FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tp FROM events WHERE event_type = 'purchase'),
      |d2 AS (
      |  SELECT v.user_id, tv, tc FROM v JOIN c ON v.user_id = c.user_id
      |  WHERE tc > tv AND tc <= tv + INTERVAL $FunnelWindowH HOUR),
      |d3 AS (
      |  SELECT d2.user_id FROM d2 JOIN p ON d2.user_id = p.user_id
      |  WHERE tp > tc AND tp <= tv + INTERVAL $FunnelWindowH HOUR),
      |agg AS (
      |  SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM v) AS n_depth1,
      |         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM d2) AS n_depth2,
      |         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM d3) AS n_depth3)
      |SELECT n_depth1, n_depth2, n_depth3,
      |       n_depth2 * 1000000 // n_depth1 AS conv2_ppm,
      |       n_depth3 * 1000000 // n_depth1 AS conv3_ppm
      |FROM agg""".stripMargin

  /** Time-to-convert profile inside the [[windowFunnel]] window: for each
    * user's EARLIEST view→purchase conversion within [[FunnelWindowH]]
    * hours, the lag in whole minutes — exact discrete quantiles via the
    * verified ceil-rank rule on the minute-domain-bounded lag histogram
    * (the [[fulfillmentLag]] discipline applied to funnel timing). The
    * "how fast do converters convert" readout that decides retargeting
    * windows.
    *
    * 100 TB shape: one per-user range join bounded by the window, a
    * per-user min (first conversion), then histogram-scale windows.
    */
  def funnelTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("u"), col("ts").as("tv"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("tp"))
    val lags = v.join(p,
        col("u") === col("u2") && col("tp") > col("tv") &&
          col("tp") <= col("tv") + expr(s"INTERVAL $FunnelWindowH HOURS"))
      .groupBy(col("u"))
      .agg(min(expr("(unix_timestamp(tp) - unix_timestamp(tv)) div 60")).as("lag_min"))
      .groupBy(col("lag_min")).agg(count(lit(1)).as("c"))
    val cum = lags.repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("lag_min"))))
      .crossJoin(broadcast(lags.agg(
        sum(col("c")).as("n"), sum(col("lag_min") * col("c")).as("lagsum"))))
    def q(pct: Int) =
      min(when(col("cum") * 100 >= col("n") * pct, col("lag_min"))).as(s"p$pct")
    cum.agg(
      max(col("n")).as("n_converters"),
      min(col("lag_min")).as("min_lag_min"),
      q(50), q(90),
      max(col("lag_min")).as("max_lag_min"),
      expr("max(lagsum) div max(n)").as("mean_lag_floor_min"))
  }

  private val funnelTimeToConvertSql =
    s"""WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tv FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tp FROM events WHERE event_type = 'purchase'),
      |lag0 AS (
      |  SELECT v.user_id,
      |         CAST(min(date_diff('second', tv, tp) // 60) AS BIGINT) AS lag_min
      |  FROM v JOIN p ON v.user_id = p.user_id
      |  WHERE tp > tv AND tp <= tv + INTERVAL $FunnelWindowH HOUR
      |  GROUP BY 1),
      |lags AS (SELECT lag_min, CAST(count(*) AS BIGINT) AS c FROM lag0 GROUP BY 1),
      |cum AS (
      |  SELECT lag_min, c, CAST(sum(c) OVER (ORDER BY lag_min) AS BIGINT) AS cum,
      |         (SELECT CAST(sum(c) AS BIGINT) FROM lags) AS n,
      |         (SELECT CAST(sum(lag_min * c) AS BIGINT) FROM lags) AS lagsum
      |  FROM lags)
      |SELECT max(n) AS n_converters, min(lag_min) AS min_lag_min,
      |       min(CASE WHEN cum * 100 >= n * 50 THEN lag_min END) AS p50,
      |       min(CASE WHEN cum * 100 >= n * 90 THEN lag_min END) AS p90,
      |       max(lag_min) AS max_lag_min,
      |       max(lagsum) // max(n) AS mean_lag_floor_min
      |FROM cum""".stripMargin

  /** Rolling 7-day distinct active users per day (the WAU curve computed
    * for EVERY day, not just week boundaries) — the sliding-window DISTINCT
    * aggregate that no window frame can express (frames compose sums, not
    * set unions). The scalable idiom: collapse the fact to the (user, day)
    * grain first, then fan each pair out to the ≤ 7 window-anchor days it
    * contributes to (a FIXED ×7 map-side explode, not a range join), and
    * count distinct users per anchor.
    *
    * 100 TB shape: the fact collapses to user×day BEFORE any fan-out, the
    * explode is a constant-width Generate (codegen, no BNL range join), the
    * anchor semi-join broadcasts the day-domain grid, and the final count
    * is a SINGLE distinct aggregate — the two-level HashAggregate rewrite,
    * never an Expand. State is bounded by user×day, not events.
    */
  def rollingWau(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val pairs = ev.select(col("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_num"))
      .distinct()
    val grid = pairs.select(col("day_num").as("anchor")).distinct()
    val fan = pairs
      .select(col("user_id"), col("day_num"), explode(expr("sequence(0L, 6L)")).as("o"))
      .select(col("user_id"), (col("day_num") + col("o")).as("anchor"))
      .join(broadcast(grid), Seq("anchor"), "left_semi")
    fan.groupBy(col("anchor"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(
        col("anchor").as("day_num"),
        date_format(date_add(lit("1970-01-01").cast("date"), col("anchor").cast("int")),
          "yyyy-MM-dd").as("day"),
        col("wau"))
      .orderBy(col("day_num"))
  }

  private val rollingWauSql =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |         date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day_num
      |  FROM events),
      |grid AS (SELECT DISTINCT day_num AS anchor FROM pairs),
      |fan AS (SELECT p.user_id, p.day_num + o AS anchor FROM pairs p, range(7) t(o)),
      |w AS (
      |  SELECT f.anchor, CAST(count(DISTINCT f.user_id) AS BIGINT) AS wau
      |  FROM fan f JOIN grid g ON g.anchor = f.anchor
      |  GROUP BY 1)
      |SELECT anchor AS day_num,
      |       strftime(DATE '1970-01-01' + CAST(anchor AS INTEGER), '%Y-%m-%d') AS day,
      |       wau
      |FROM w ORDER BY day_num""".stripMargin

  /** Time-series training-feature matrix: per (user, day) activity with lag
    * features (t−1, t−7), a 7-row trailing sum, and a relative-change
    * feature — the feature-engineering pass an ML pipeline runs before model
    * training. Aggregation first (facts → daily grain), windows second over
    * the small per-entity series. Integer value space end-to-end; the change
    * ratio is `floor((Δ·1e6)/prev)` where both operands are exact-in-double
    * longs, because integer `div` would diverge cross-engine on NEGATIVE
    * deltas (Spark truncates toward zero, DuckDB floors — floor(double) is
    * the portable form). Warm-up rows (no t−7 yet) drop like a dropna.
    */
  def tsFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val daily = ev
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
    val w = Window.partitionBy("user_id").orderBy("day")
    daily
      .withColumn("v_lag1", lag("v", 1).over(w))
      .withColumn("v_lag7", lag("v", 7).over(w))
      .withColumn("ma7", sum("v").over(w.rowsBetween(-6, 0)))
      .where(col("v_lag7").isNotNull)
      .select(col("user_id"), col("day"), col("v"), col("v_lag1"),
        col("v_lag7"), col("ma7"),
        when(col("v_lag1") === 0, lit(0L))
          .otherwise(floor((col("v") - col("v_lag1")) * 1000000 / col("v_lag1"))
            .cast("long")).as("chg_ppm"))
  }

  private val tsFeaturesSql =
    """WITH daily AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |f AS (
      |  SELECT user_id, day, v,
      |         lag(v, 1) OVER w AS v_lag1,
      |         lag(v, 7) OVER w AS v_lag7,
      |         CAST(sum(v) OVER (PARTITION BY user_id ORDER BY day
      |                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, day, v, v_lag1, v_lag7, ma7,
      |       CASE WHEN v_lag1 = 0 THEN 0
      |            ELSE CAST(floor((v - v_lag1) * 1000000 / v_lag1) AS BIGINT)
      |       END AS chg_ppm
      |FROM f WHERE v_lag7 IS NOT NULL""".stripMargin

  /** First-order Markov transition counts over per-user event sequences —
    * the sequence statistics behind next-event prediction features and
    * session-model sanity checks. One window pass pairs each event with its
    * successor (no self-join); the (from → to) matrix is a 25-row aggregate,
    * and transition probabilities are integer ppm over the post-aggregate
    * relation (positive operands, so `div` is portable).
    */
  def seqTransitionCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = ev
      .select(col("user_id"), col("event_type").as("from_type"),
        col("ts"), col("event_id"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .where(col("to_type").isNotNull)
    pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .withColumn("prob_ppm",
        expr("n * 1000000 div sum(n) over (partition by from_type)"))
  }

  private val seqTransitionCountsSql =
    """WITH p AS (
      |  SELECT user_id, event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |m AS (
      |  SELECT from_type, to_type, count(*) AS n,
      |         count(DISTINCT user_id) AS n_users
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n, n_users,
      |       CAST((n * 1000000) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS BIGINT) AS prob_ppm
      |FROM m""".stripMargin

  /** Next-event prediction eval of the Markov transition model — closes
    * the loop [[seqTransitionCounts]] opens: the model predicts, for each
    * from-type, the argmax-probability next type (ties → type ascending, a
    * total order both engines share), and the eval scores every observed
    * transition against that prediction — in-sample accuracy per from-type
    * in exact ppm, beside the majority-class baseline every classifier
    * must beat (predict the globally most common to-type). The
    * sanity readout before anyone ships "next-action" personalization on
    * the transition matrix.
    *
    * 100 TB shape: transitions come from the one user-partitioned window
    * pass; the model is a types²-sized relation broadcast back; accuracy
    * is a per-from-type aggregate of integer hit counts.
    */
  def seqNextpredEval(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = ev
      .select(col("user_id"), col("event_type").as("from_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .where(col("to_type").isNotNull)
      .select("from_type", "to_type")
    val m = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val pred = m.groupBy(col("from_type"))
      .agg(min_by(col("to_type"), struct(-col("n"), col("to_type"))).as("pred_type"))
    val global = m.groupBy(col("to_type")).agg(sum(col("n")).as("gn"))
      .agg(min_by(col("to_type"), struct(-col("gn"), col("to_type"))).as("base_type"))
    pairs.join(broadcast(pred), "from_type")
      .crossJoin(broadcast(global))
      .groupBy(col("from_type"), col("pred_type"), col("base_type"))
      .agg(
        count(lit(1)).as("n_transitions"),
        sum(when(col("to_type") === col("pred_type"), 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("to_type") === col("base_type"), 1L).otherwise(0L)).as("n_base_hits"))
      .select(col("from_type"), col("pred_type"), col("n_transitions"),
        expr("n_hits * 1000000 div n_transitions").as("acc_ppm"),
        expr("n_base_hits * 1000000 div n_transitions").as("baseline_ppm"))
      .orderBy(col("from_type"))
  }

  private val seqNextpredEvalSql =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |pr AS (SELECT from_type, to_type FROM p WHERE to_type IS NOT NULL),
      |m AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1, 2),
      |pred AS (
      |  SELECT from_type, to_type AS pred_type FROM (
      |    SELECT from_type, to_type,
      |           row_number() OVER (PARTITION BY from_type ORDER BY n DESC, to_type) AS rn
      |    FROM m) WHERE rn = 1),
      |gb AS (
      |  SELECT to_type AS base_type FROM (
      |    SELECT to_type, row_number() OVER (ORDER BY sum(n) DESC, to_type) AS rn
      |    FROM m GROUP BY to_type) WHERE rn = 1)
      |SELECT pr.from_type, pred.pred_type,
      |       CAST(count(*) AS BIGINT) AS n_transitions,
      |       CAST(sum(CASE WHEN pr.to_type = pred.pred_type THEN 1 ELSE 0 END) AS BIGINT)
      |         * 1000000 // CAST(count(*) AS BIGINT) AS acc_ppm,
      |       CAST(sum(CASE WHEN pr.to_type = gb.base_type THEN 1 ELSE 0 END) AS BIGINT)
      |         * 1000000 // CAST(count(*) AS BIGINT) AS baseline_ppm
      |FROM pr JOIN pred USING (from_type) CROSS JOIN gb
      |GROUP BY pr.from_type, pred.pred_type
      |ORDER BY pr.from_type""".stripMargin

  /** Fixed-iteration influence propagation over the co-purchase graph — the
    * PageRank-shaped distributed-graph pattern (iterate: flow = score/degree
    * along edges, damp, re-aggregate), kept in EXACT integer arithmetic so
    * two engines can agree bit-for-bit: per-edge flow is `score div deg`,
    * damping is `150000 + (85·Σflow) div 100` (PageRank's 0.15/0.85 as
    * integer rationals — a float formulation could never hash-gate because
    * Σ of doubles is order-dependent). Two rounds, each one join + one
    * groupBy shuffled on the vertex key; the edge relation is built once
    * from an order-local self-join (≤7 lines/order ⇒ ≤21 pairs/order, never
    * quadratic in the table). The unbounded-iteration twin with convergence
    * handling is [[graft.llm.Dedup.components]]; this is the fixed-round
    * scored variant.
    *
    * The top-20 is localized so the edge cache is released before
    * returning — a lazy return pinned the edge-sized relation for the JVM's
    * lifetime (guide §5 / the r12 kcore lesson; r13 verdict item 7).
    */
  def graphInfluence(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    // pair base = the Graph pack's memoized UNCUT co-purchase pairs (one
    // order-part self-join shared with the coPartEdges family — guide §2.4;
    // the r13 shape re-ran its own collect_set + pair-kernel shuffle over
    // the fact per call). Same set: distinct (u < v) parts co-occurring in
    // ≥ 1 order. Lives in the session memo, so only the per-query `e`
    // cache below is kept by the scope.
    val pairs = Graph.coPartPairsAll(s, dir).select(col("x").as("u"), col("y").as("v"))
    val edges = pairs.unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
    // score is VERTEX-sized (tiny next to the edge relation): broadcasting
    // it makes each round one shuffle (the per-target aggregation) instead
    // of two. When V itself outgrows executor memory, a deployment sets
    // spark.graft.graph.broadcastVertices=false: edges are then cached
    // CO-PARTITIONED on u (one exchange, reused by every round's join) and
    // scores reach them through a shuffle-hash join — same plan shape, no
    // vertex relation ever materialized on one machine. Identical results
    // by construction; AnalyticsSpec pins both (plan + rows).
    val bcastVerts =
      s.conf.get("spark.graft.graph.broadcastVertices", "true").toBoolean
    // cache: consumed by both iterations (canonical-plan-deduped — CLAUDE.md).
    // deg is vertex-sized like score, so non-broadcast mode must keep IT out
    // of a broadcast too — the edge build becomes a co-partitioned SHJ.
    val eRaw =
      if (bcastVerts) edges.join(deg, "u")
      else edges.join(deg.hint("shuffle_hash"), "u")
    val e = keep(if (bcastVerts) eRaw else eRaw.repartition(col("u")))
    val s0 = deg.select(col("u").as("node"), lit(1000000L).as("score"))
    val s2 = (1 to 2).foldLeft(s0) { (score, _) =>
      val scoreSide = if (bcastVerts) broadcast(score) else score.hint("shuffle_hash")
      e.join(scoreSide, col("u") === col("node"))
        .select(col("v"), expr("score div deg").as("fl"))
        .groupBy("v")
        .agg(sum("fl").as("sfl"))
        .select(col("v").as("node"),
          (lit(150000L) + expr("85 * sfl div 100")).as("score"))
    }
    s2.orderBy(col("score").desc, col("node")).limit(20)
  }

  private val graphInfluenceSql =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a
      |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
      |s0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS score FROM deg),
      |f1 AS (
      |  SELECT e.v AS node, CAST(sum(s0.score // d.deg) AS BIGINT) AS sfl
      |  FROM edges e JOIN deg d ON e.u = d.u JOIN s0 ON s0.node = e.u
      |  GROUP BY e.v),
      |s1 AS (SELECT node, CAST(150000 + (85 * sfl) // 100 AS BIGINT) AS score FROM f1),
      |f2 AS (
      |  SELECT e.v AS node, CAST(sum(s1.score // d.deg) AS BIGINT) AS sfl
      |  FROM edges e JOIN deg d ON e.u = d.u JOIN s1 ON s1.node = e.u
      |  GROUP BY e.v),
      |s2 AS (SELECT node, CAST(150000 + (85 * sfl) // 100 AS BIGINT) AS score FROM f2)
      |SELECT node, score FROM s2 ORDER BY score DESC, node LIMIT 20""".stripMargin

  /** SCD2 point-in-time dimension join: each fact row joins the dimension
    * VERSION that was valid at its event time — the warehouse pattern behind
    * "price as of the trade" / "user profile as of the purchase". Versions
    * are lead-window validity intervals (the [[scd2History]] build); the join
    * is [[graft.operators.RangeJoin.joinPointInInterval]] on (user, day
    * bucket), so the plan is a pruned equi-join — never a per-row scan of
    * the dimension history, never a BroadcastNestedLoopJoin. Facts before a
    * user's first version drop (inner semantics), like a dim-less fact in a
    * strict star.
    */
  def scd2AsofDimJoin(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val capUs = 1706745600000000L // 2024-02-01 00:00:00 UTC, after all events
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("vs", "ver_id")
    val versions = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("ver_id"),
        unix_micros(col("ts")).as("vs"))
      .withColumn("ve", coalesce(lead("vs", 1).over(w), lit(capUs)))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    graft.operators.RangeJoin
      .joinPointInInterval(purchases, versions, "user_id",
        pointCol = "p_us", startCol = "vs", endCol = "ve", granularity = dayUs)
      .groupBy((col("user_id") % 20).as("bucket"))
      .agg(
        count(lit(1)).as("n_matched"),
        sum(col("ver_id")).as("sum_ver_ids"),
        countDistinct(col("ver_id")).as("n_versions_used"))
  }

  private val scd2AsofDimJoinSql =
    """WITH v AS (
      |  SELECT user_id, event_id AS ver_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS vs,
      |         coalesce(
      |           lead(epoch_us(CAST(ts AS TIMESTAMP)))
      |             OVER (PARTITION BY user_id
      |                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id),
      |           epoch_us(TIMESTAMP '2024-02-01 00:00:00')) AS ve
      |  FROM events WHERE event_type = 'signup'),
      |p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id % 20 AS bucket, count(*) AS n_matched,
      |       CAST(sum(ver_id) AS BIGINT) AS sum_ver_ids,
      |       count(DISTINCT ver_id) AS n_versions_used
      |FROM p JOIN v ON p.user_id = v.user_id AND p_us >= vs AND p_us < ve
      |GROUP BY 1""".stripMargin

  /** A13 — Theil-Sen robust trend per entity: the median of all pairwise
    * daily-slope estimates, the breakdown-resistant alternative to an OLS
    * slope (outlier days cannot drag it). Daily totals are exact cent sums,
    * so every slope is ONE correctly-rounded division of exact integers —
    * bit-identical cross-engine — and the median is picked by explicit rank
    * `(n+1) div 2` over a (slope, pair-id) row_number in BOTH engines (no
    * engine quantile function, whose rank rules differ — CLAUDE.md's
    * quantile_disc note). Emitted floor-1e6.
    *
    * Scale: the pair self-join keys on the entity — per-task state is
    * bounded by days² per entity per month (calendar-bounded, ≤ ~465
    * pairs), never corpus-sized; the slope window sorts within one
    * entity's pairs only.
    */
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val daily = ev.groupBy(
        col("user_id"),
        date_format(col("ts"), "yyyy-MM").as("month"),
        dayofmonth(col("ts")).as("x"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
    val a = daily.select(col("user_id"), col("month"),
      col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("user_id"), col("month"),
      col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(b, Seq("user_id", "month")).where(col("xa") < col("xb"))
      .select(col("user_id"), col("month"),
        ((col("yb") - col("ya")).cast("double") /
          (col("xb") - col("xa")).cast("double")).as("slope"))
    val w = Window.partitionBy("user_id", "month")
    val ranked = pairs
      .withColumn("rn", row_number().over(w.orderBy(col("slope"))))
      .withColumn("np", count(lit(1)).over(w))
    ranked.where(col("rn") === expr("(np + 1) div 2"))
      .select(col("user_id"), col("month"),
        col("np").as("n_pairs"),
        floor(col("slope") * lit(1000000)).cast("long").as("slope_cents_e6"))
  }

  private val theilSenTrendSql =
    """WITH daily AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
      |         date_part('day', CAST(ts AS TIMESTAMP)) AS x,
      |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT a.user_id, a.month,
      |         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.user_id = b.user_id AND a.month = b.month AND a.x < b.x),
      |ranked AS (
      |  SELECT user_id, month, slope,
      |         row_number() OVER (PARTITION BY user_id, month ORDER BY slope) AS rn,
      |         count(*) OVER (PARTITION BY user_id, month) AS np
      |  FROM pairs)
      |SELECT user_id, month, np AS n_pairs,
      |       CAST(floor(slope * 1000000) AS BIGINT) AS slope_cents_e6
      |FROM ranked WHERE rn = (np + 1) // 2""".stripMargin

  /** A14 — per-entity OLS regression (slope / intercept / R²) of daily
    * spend against day-of-month, from EXACT integer sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy² — every product bounded well inside int64:
    * x ≤ 31, y = daily cents ≤ ~6e5). The classical closed forms
    *   slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    *   intercept = (Σy − slope·Σx)/n,
    *   R² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    * then run as short chains of single correctly-rounded double ops —
    * bit-identical cross-engine, floor-1e6 emitted. One (entity, month,
    * day) aggregate then one (entity, month) aggregate; no windows, no
    * per-group sort — the OLS twin of [[theilSenTrend]], and the
    * parametric companion whose slope the robust estimator sanity-checks.
    */
  def olsTrend(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val daily = ev.groupBy(
        col("user_id"),
        date_format(col("ts"), "yyyy-MM").as("month"),
        dayofmonth(col("ts")).cast("long").as("x"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
    val g = daily.groupBy("user_id", "month").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .where(col("n") >= 2)
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / vx
    g.select(
      col("user_id"), col("month"), col("n").as("n_days"),
      floor(slope * lit(1000000)).cast("long").as("slope_e6"),
      floor((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double") * lit(1000000)).cast("long").as("intercept_e6"),
      when(vy > 0,
        floor(num * num / (vx * vy) * lit(1000000)).cast("long")).as("r2_e6"))
  }

  private val olsTrendSql =
    """WITH daily AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
      |         CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
      |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT user_id, month, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM daily GROUP BY 1, 2
      |  HAVING count(*) >= 2),
      |d AS (
      |  SELECT user_id, month, n,
      |         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
      |         CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
      |         CAST(n * syy - sy * sy AS DOUBLE) AS vy,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM g)
      |SELECT user_id, month, n AS n_days,
      |       CAST(floor(num / vx * 1000000) AS BIGINT) AS slope_e6,
      |       CAST(floor((syd - (num / vx) * sxd) / CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS intercept_e6,
      |       CASE WHEN vy > 0
      |            THEN CAST(floor(num * num / (vx * vy) * 1000000) AS BIGINT)
      |       END AS r2_e6
      |FROM d""".stripMargin

  /** A17 — split-conformal prediction intervals over the OLS spend model:
    * fit on the ODD days, compute absolute residuals on the held-out EVEN
    * days, and calibrate the interval half-width as the `ceil(0.9·n)`-rank
    * residual (the pinned discrete-quantile rule — split conformal's
    * distribution-free guarantee needs exactly this order statistic). The
    * audit applies the calibrated width back to the fit days and counts
    * covered points — the calibration-transfer diagnostic. Fit parameters
    * come from exact integer sufficient statistics ([[olsTrend]]'s
    * discipline); residuals are single correctly-rounded double chains
    * floored to integer cents, so ranks, widths and coverage all hash-gate.
    * Shuffles: one (entity, month, day) aggregate, one (entity, month)
    * aggregate per split, a broadcast-sized model join back, and a per-group
    * rank window over calibration days (calendar-bounded).
    */
  def conformalIntervals(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val ev = Tables.load(s, dir, "events")
    // kept: three consumers (fit agg, calibration, audit) — one scan
    val daily = keep(ev.groupBy(
        col("user_id"),
        date_format(col("ts"), "yyyy-MM").as("month"),
        dayofmonth(col("ts")).cast("long").as("x"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("y")))
    // kept: two consumers (calibration join + audit join)
    val fit = keep(daily.where(col("x") % 2 === 1)
      .groupBy("user_id", "month").agg(
        count(lit(1)).as("nf"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .where(col("nf") >= 3)
      .withColumn("vx", (col("nf") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .where(col("vx") > 0)
      .withColumn("slope",
        (col("nf") * col("sxy") - col("sx") * col("sy")).cast("double") / col("vx"))
      .withColumn("icept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("nf").cast("double"))
      .select("user_id", "month", "nf", "slope", "icept"))
    def resid = floor(abs(col("y").cast("double") -
      (col("slope") * col("x").cast("double") + col("icept")))).cast("long")
    val cal = daily.where(col("x") % 2 === 0)
      .join(fit, Seq("user_id", "month"))
      .select(col("user_id"), col("month"), col("nf"), resid.as("r"))
    val w = Window.partitionBy("user_id", "month")
    // kept: two consumers (audit join + final join)
    val width = keep(cal
      .withColumn("nc", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("r"))))
      .where(col("rn") === greatest(ceil(lit(9) / lit(10) * col("nc")).cast("long"), lit(1L)))
      .select(col("user_id"), col("month"), col("nc").as("n_cal"),
        col("r").as("q90_resid_cents")))
    // materialize width (pulls fit + daily through their caches) so the
    // final tree's two width scans and two fit scans all read caches —
    // uncached, the whole cal→window chain evaluated twice per action
    width.count()
    val audit = daily.where(col("x") % 2 === 1)
      .join(fit, Seq("user_id", "month"))
      .select(col("user_id"), col("month"), resid.as("rf"))
      .join(width, Seq("user_id", "month"))
      .groupBy("user_id", "month")
      .agg(count(lit(1)).as("n_fit"),
        sum(when(col("rf") <= col("q90_resid_cents"), 1L).otherwise(0L))
          .as("n_fit_covered"))
    val out = width.join(audit, Seq("user_id", "month"))
      .select(col("user_id"), col("month"), col("n_fit"), col("n_cal"),
        col("q90_resid_cents"), col("n_fit_covered"))
    // the output is (user, month)-sized: collected by the scope
    out
  }

  private val conformalIntervalsSql =
    """WITH daily AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
      |         CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
      |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2, 3),
      |fit AS (
      |  SELECT user_id, month, nf, slope,
      |         (syd - slope * sxd) / CAST(nf AS DOUBLE) AS icept
      |  FROM (
      |    SELECT user_id, month, nf, sx, sy,
      |           CAST(nf * sxy - sx * sy AS DOUBLE) / vx AS slope,
      |           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |    FROM (
      |      SELECT user_id, month, count(*) AS nf,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * y) AS BIGINT) AS sxy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx,
      |             CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE) AS vx
      |      FROM daily WHERE x % 2 = 1
      |      GROUP BY 1, 2
      |      HAVING count(*) >= 3
      |         AND count(*) * sum(x * x) - sum(x) * sum(x) > 0))),
      |cal AS (
      |  SELECT d.user_id, d.month,
      |         CAST(floor(abs(CAST(y AS DOUBLE) - (slope * CAST(x AS DOUBLE) + icept))) AS BIGINT) AS r
      |  FROM daily d JOIN fit USING (user_id, month)
      |  WHERE d.x % 2 = 0),
      |width AS (
      |  SELECT user_id, month, nc, r AS q90_resid_cents FROM (
      |    SELECT user_id, month, r,
      |           CAST(count(*) OVER (PARTITION BY user_id, month) AS BIGINT) AS nc,
      |           row_number() OVER (PARTITION BY user_id, month ORDER BY r) AS rn
      |    FROM cal)
      |  WHERE rn = greatest(CAST(ceil(9 / 10 * nc) AS BIGINT), 1)),
      |audit AS (
      |  SELECT d.user_id, d.month, count(*) AS n_fit,
      |         CAST(sum(CASE WHEN
      |           CAST(floor(abs(CAST(y AS DOUBLE) - (slope * CAST(x AS DOUBLE) + icept))) AS BIGINT)
      |             <= q90_resid_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_fit_covered
      |  FROM daily d JOIN fit USING (user_id, month) JOIN width USING (user_id, month)
      |  WHERE d.x % 2 = 1
      |  GROUP BY 1, 2)
      |SELECT user_id, month, n_fit, CAST(nc AS BIGINT) AS n_cal,
      |       q90_resid_cents, n_fit_covered
      |FROM width JOIN audit USING (user_id, month)""".stripMargin

  /** paths reported by [[pathTopK]] */
  val PathK = 20

  /** A16 — clickstream path mining: the [[PathK]] most frequent FULL
    * event-type sequences per (user, day) session, with how many sessions
    * and distinct users walk each path — the funnel-discovery complement of
    * [[seqTransitionCounts]] (which sees only bigram edges; paths are whole
    * trajectories). Sequence assembly is
    * `array_join(transform(array_sort(collect_list(struct(ts, id, type)))))`
    * — collect_list is order-nondeterministic but the sort key
    * (ts, event_id) makes the assembled path retry/engine-deterministic,
    * matching DuckDB's ordered `string_agg`. Per-session state is one
    * session's events (watermark-bounded in the streaming twin); the final
    * cut is a distributed TakeOrdered, never a global sort. Path strings
    * and counts are exact — hash-gated.
    */
  def pathTopK(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val paths = ev.groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
        ">").as("path"))
    // two-level (path, user) → path: n_users without a distinct aggregate
    // mixed into plain counts (the ×N Expand shape, CLAUDE.md)
    paths.groupBy("path", "user_id").agg(count(lit(1)).as("cnt"))
      .groupBy("path")
      .agg(sum(col("cnt")).as("n_sessions"), count(lit(1)).as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(PathK)
  }

  private val pathTopKSql =
    s"""WITH p AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS path
      |  FROM events GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users
      |FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path
      |LIMIT $PathK""".stripMargin

  /** Process-mining conformance checking: each (user, day) session's
    * event-type sequence is audited against the reference journey —
    * signup (if any) first, a view before any click, a click before any
    * purchase, nothing after the purchase — and classified by its FIRST
    * violated rule (a fixed priority ladder, so every session lands in
    * exactly one bucket). All tests are first-occurrence POSITION
    * comparisons on the type-initial string (`instr`/`strpos`, identical
    * 1-based/0-absent semantics in both engines) — no regex dialect risk.
    * Emits per-verdict session/user counts and the share of traffic, the
    * deviation report a process-mining tool ships from an event log.
    *
    * 100 TB shape: the [[pathTopK]] assembly — one per-session sort-
    * aggregate (state bounded by session length), then verdict-domain
    * aggregates; user counts via the two-level shape, never a mixed
    * distinct.
    */
  def processConformance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val seqs = ev.groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), " +
          "x -> substring(x.event_type, 1, 1))"), "").as("seq"))
    val verdict = when(
        instr(col("seq"), "s") > 1, lit("late_signup"))
      .when(instr(col("seq"), "c") > 0 &&
        (instr(col("seq"), "v") === 0 || instr(col("seq"), "v") > instr(col("seq"), "c")),
        lit("click_before_view"))
      .when(instr(col("seq"), "p") > 0 &&
        (instr(col("seq"), "c") === 0 || instr(col("seq"), "c") > instr(col("seq"), "p")),
        lit("purchase_before_click"))
      .when(instr(col("seq"), "p") > 0 && instr(col("seq"), "p") < length(col("seq")),
        lit("activity_after_purchase"))
      .otherwise(lit("conformant"))
    val classed = seqs.select(col("user_id"), verdict.as("verdict"))
    val agg = classed.groupBy("verdict", "user_id").agg(count(lit(1)).as("cnt"))
      .groupBy("verdict")
      .agg(sum(col("cnt")).as("n_sessions"), count(lit(1)).as("n_users"))
    val tot = agg.agg(sum(col("n_sessions")).as("n_total"))
    agg.crossJoin(broadcast(tot))
      .select(col("verdict"), col("n_sessions"), col("n_users"),
        expr("n_sessions * 1000000 div n_total").as("share_ppm"))
      .orderBy(col("verdict"))
  }

  private val processConformanceSql =
    """WITH seqs AS (
      |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         string_agg(substr(event_type, 1, 1), ''
      |                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
      |  FROM events GROUP BY 1, 2),
      |classed AS (
      |  SELECT user_id,
      |         CASE
      |           WHEN strpos(seq, 's') > 1 THEN 'late_signup'
      |           WHEN strpos(seq, 'c') > 0 AND
      |                (strpos(seq, 'v') = 0 OR strpos(seq, 'v') > strpos(seq, 'c'))
      |             THEN 'click_before_view'
      |           WHEN strpos(seq, 'p') > 0 AND
      |                (strpos(seq, 'c') = 0 OR strpos(seq, 'c') > strpos(seq, 'p'))
      |             THEN 'purchase_before_click'
      |           WHEN strpos(seq, 'p') > 0 AND strpos(seq, 'p') < length(seq)
      |             THEN 'activity_after_purchase'
      |           ELSE 'conformant'
      |         END AS verdict
      |  FROM seqs),
      |agg AS (
      |  SELECT verdict, CAST(sum(cnt) AS BIGINT) AS n_sessions,
      |         CAST(count(*) AS BIGINT) AS n_users
      |  FROM (SELECT verdict, user_id, CAST(count(*) AS BIGINT) AS cnt
      |        FROM classed GROUP BY 1, 2)
      |  GROUP BY verdict),
      |tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total FROM agg)
      |SELECT verdict, n_sessions, n_users,
      |       n_sessions * 1000000 // n_total AS share_ppm
      |FROM agg CROSS JOIN tot
      |ORDER BY verdict""".stripMargin

  /** minimum run length for a leg of a detected V-shape */
  val VMinRun = 2

  /** A15 — MATCH_RECOGNIZE-style sequential pattern detection: V-shapes
    * (a strict down-run followed by a strict up-run, both ≥ [[VMinRun]]
    * days) in each entity's daily close series — the row-pattern-matching
    * operator class (Oracle/Flink MATCH_RECOGNIZE `PATTERN (DOWN{2,} UP{2,})`),
    * expressed relationally via gaps-and-islands run-length encoding:
    * sign of the daily diff → run boundaries (`s ≠ lag(s)`) → run ids by
    * cumulative sum → per-run aggregates → adjacent-run self-join
    * (run_id + 1) with the sign/length predicate. All windows partition on
    * the entity (the natural shuffle key); runs are a per-entity-sized
    * relation. Closes are deterministic doubles floored to cents, signs and
    * depths exact integers — fully hash-gated.
    */
  def vshapePatterns(s: SparkSession, dir: String): DataFrame = {
    val o    = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val nat  = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val daily = o
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(
        col("o_orderpriority").as("priority"),
        col("nation"),
        to_date(col("o_orderdate")).as("day"))
      .agg(floor((sum(col("o_totalprice").cast("decimal(12,2)")).cast("double") /
        count(lit(1))) * 100).cast("long").as("cents"))
    val w = Window.partitionBy("priority", "nation").orderBy("day")
    val diffed = daily
      .withColumn("prev", lag("cents", 1).over(w))
      .where(col("prev").isNotNull)
      .withColumn("sg",
        when(col("cents") > col("prev"), 1L)
          .when(col("cents") < col("prev"), -1L).otherwise(0L))
      .withColumn("newrun",
        when(lag("sg", 1).over(w).isNull || col("sg") =!= lag("sg", 1).over(w), 1L)
          .otherwise(0L))
      .withColumn("run_id",
        sum("newrun").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = diffed.groupBy("priority", "nation", "run_id")
      .agg(max(col("sg")).as("sg"), count(lit(1)).as("len"),
        min_by(col("prev"), col("day")).as("start_cents"),
        max_by(col("cents"), col("day")).as("end_cents"))
    // run ids are consecutive per group (cumsum of run starts), so "the up
    // run at run_id+1" is lead(1) in run_id order — ONE window over the
    // run-sized relation replaces the r13 down⋈up self-join that evaluated
    // the whole daily→window→runs chain twice (guide §2.4); the 1:1 join on
    // unique run_id and the lead pairing match row for row
    val wr = Window.partitionBy("priority", "nation").orderBy("run_id")
    runs
      .withColumn("nsg", lead("sg", 1).over(wr))
      .withColumn("nlen", lead("len", 1).over(wr))
      .where(col("sg") === -1L && col("len") >= VMinRun &&
        col("nsg") === 1L && col("nlen") >= VMinRun)
      .withColumn("depth_cents", col("start_cents") - col("end_cents"))
      .groupBy("priority", "nation")
      .agg(count(lit(1)).as("n_vshapes"),
        max(col("depth_cents")).as("max_depth_cents"),
        sum(col("depth_cents")).as("sum_depth_cents"))
  }

  private val vshapePatternsSql =
    s"""WITH d AS (
      |  SELECT o_orderpriority AS priority, n_name AS nation,
      |         CAST(o_orderdate AS DATE) AS day,
      |         CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |                    / count(*) * 100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3),
      |l AS (
      |  SELECT priority, nation, day, cents,
      |         lag(cents) OVER (PARTITION BY priority, nation ORDER BY day) AS prev
      |  FROM d),
      |sg AS (
      |  SELECT *, CASE WHEN cents > prev THEN 1 WHEN cents < prev THEN -1 ELSE 0 END AS sg
      |  FROM l WHERE prev IS NOT NULL),
      |rl AS (
      |  SELECT *, CAST(sum(newrun) OVER (PARTITION BY priority, nation ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM (
      |    SELECT *,
      |      CASE WHEN lag(sg) OVER (PARTITION BY priority, nation ORDER BY day) IS NULL
      |             OR sg <> lag(sg) OVER (PARTITION BY priority, nation ORDER BY day)
      |           THEN 1 ELSE 0 END AS newrun
      |    FROM sg)),
      |runs AS (
      |  SELECT priority, nation, run_id, max(sg) AS sg, count(*) AS len,
      |         arg_min(prev, day) AS start_cents,
      |         arg_max(cents, day) AS end_cents
      |  FROM rl GROUP BY 1, 2, 3),
      |dn AS (
      |  SELECT priority, nation, run_id, start_cents - end_cents AS depth_cents
      |  FROM runs WHERE sg = -1 AND len >= $VMinRun),
      |up AS (
      |  SELECT priority, nation, run_id - 1 AS run_id
      |  FROM runs WHERE sg = 1 AND len >= $VMinRun)
      |SELECT priority, nation, count(*) AS n_vshapes,
      |       CAST(max(depth_cents) AS BIGINT) AS max_depth_cents,
      |       CAST(sum(depth_cents) AS BIGINT) AS sum_depth_cents
      |FROM dn JOIN up USING (priority, nation, run_id)
      |GROUP BY priority, nation""".stripMargin

  // ---------------------------------------------------------------------------
  // Multi-touch attribution models
  // ---------------------------------------------------------------------------

  /** attribution lookback window (days before the conversion) */
  val AttrWindowD = 7

  /** Multi-touch attribution: every purchase credits the marketing touches
    * (view / click / signup events of the same user within the
    * [[AttrWindowD]]-day lookback) under the four standard models at once —
    * FIRST touch, LAST touch, LINEAR (1/n each), and U-SHAPED (40% first,
    * 40% last, 20% split across the middles; 100% / 50-50 for 1- and
    * 2-touch paths). Credits are integer ppm (`1000000 div n` — same
    * truncating div in both engines on non-negative operands), so the whole
    * model comparison hash-gates; touch order ties break on the unique
    * event_id.
    *
    * 100 TB shape: one user-keyed equi-join with a time-range residual
    * (per-user × lookback bounded), position/count windows partitioned by
    * the conversion id (path-sized, never global), one final channel
    * aggregate. No model re-scans the events — all four credit columns ride
    * the same path relation.
    */
  def attributionModels(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val touch = ev.where(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("tu"), col("ts").as("tts"),
        col("event_id").as("tid"), col("event_type").as("channel"))
    val paired = conv.join(touch,
      col("cu") === col("tu") &&
        col("tts") < col("cts") &&
        col("tts") >= col("cts") - expr(s"INTERVAL $AttrWindowD DAYS"))
    val ranked = paired
      .withColumn("rn",
        row_number().over(Window.partitionBy("cid").orderBy(col("tts"), col("tid"))).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("cid")).cast("long"))
    ranked
      .select(col("channel"), col("rn"), col("n"),
        when(col("rn") === 1, 1L).otherwise(0L).as("first_t"),
        when(col("rn") === col("n"), 1L).otherwise(0L).as("last_t"),
        expr("1000000 div n").as("lin_ppm"),
        when(col("n") === 1, 1000000L)
          .when(col("n") === 2, 500000L)
          .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
          .otherwise(expr("200000 div (n - 2)")).as("u_ppm"))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_touches"),
        sum(col("first_t")).as("first_touch"),
        sum(col("last_t")).as("last_touch"),
        sum(col("lin_ppm")).as("linear_ppm"),
        sum(col("u_ppm")).as("ushape_ppm"))
  }

  private val attributionModelsSql =
    s"""WITH conv AS (
      |  SELECT user_id AS cu, ts AS cts, event_id AS cid
      |  FROM events WHERE event_type = 'purchase'),
      |tch AS (
      |  SELECT user_id AS tu, ts AS tts, event_id AS tid, event_type AS channel
      |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
      |p AS (
      |  SELECT cid, channel, tts, tid
      |  FROM conv JOIN tch ON cu = tu
      |   AND tts < cts AND tts >= cts - INTERVAL $AttrWindowD DAY),
      |r AS (
      |  SELECT channel,
      |         row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rn,
      |         count(*) OVER (PARTITION BY cid) AS n
      |  FROM p)
      |SELECT channel,
      |       CAST(count(*) AS BIGINT) AS n_touches,
      |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
      |       CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
      |       CAST(sum(1000000 // n) AS BIGINT) AS linear_ppm,
      |       CAST(sum(CASE WHEN n = 1 THEN 1000000
      |                     WHEN n = 2 THEN 500000
      |                     WHEN rn = 1 OR rn = n THEN 400000
      |                     ELSE 200000 // (n - 2) END) AS BIGINT) AS ushape_ppm
      |FROM r GROUP BY 1""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("attribution_models", attributionModels, Some(attributionModelsSql)),
    Q("a15_vshape_patterns", vshapePatterns, Some(vshapePatternsSql)),
    Q("a16_path_topk", pathTopK, Some(pathTopKSql)),
    Q("process_conformance", processConformance, Some(processConformanceSql)),
    Q("a17_conformal", conformalIntervals, Some(conformalIntervalsSql)),
    Q("a14_ols_trend", olsTrend, Some(olsTrendSql)),
    Q("a13_theil_sen", theilSenTrend, Some(theilSenTrendSql)),
    Q("scd2_asof_dim_join", scd2AsofDimJoin, Some(scd2AsofDimJoinSql)),
    Q("graph_influence", graphInfluence, Some(graphInfluenceSql)),
    Q("ts_features", tsFeatures, Some(tsFeaturesSql)),
    Q("rolling_wau", rollingWau, Some(rollingWauSql)),
    Q("ab_lift", abLift, Some(abLiftSql)),
    Q("ab_significance", abSignificance, Some(abSignificanceSql)),
    Q("ab_diff_in_diff", abDiffInDiff, Some(abDiffInDiffSql)),
    Q("ab_cuped", abCuped, Some(abCupedSql)),
    Q("hourly_activity_profile", hourlyActivityProfile, Some(hourlyActivityProfileSql)),
    Q("user_stickiness", userStickiness, Some(userStickinessSql)),
    Q("ab_quantile_effect", abQuantileEffect, Some(abQuantileEffectSql)),
    Q("retention_lift", retentionLift, Some(retentionLiftSql)),
    Q("abc_classification", abcClassification, Some(abcClassificationSql)),
    Q("inventory_newsvendor", newsvendorStock, Some(newsvendorStockSql)),
    Q("growth_accounting", growthAccounting, Some(growthAccountingSql)),
    Q("order_aging", orderAging, Some(orderAgingSql)),
    Q("user_burstiness", userBurstiness, Some(userBurstinessSql)),
    Q("attribution_multitouch", attributionMultiTouch, Some(attributionMultiTouchSql)),
    Q("mix_shift_decomp", mixShiftDecomp, Some(mixShiftDecompSql)),
    Q("gini_spend", giniSpend, Some(giniSpendSql)),
    Q("fulfillment_lag", fulfillmentLag, Some(fulfillmentLagSql)),
    Q("cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    Q("window_funnel", windowFunnel, Some(windowFunnelSql)),
    Q("funnel_time_to_convert", funnelTimeToConvert, Some(funnelTimeToConvertSql)),
    Q("session_window_native", sessionWindowNative, Some(sessionWindowNativeSql)),
    Q("rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    Q("seq_transition_counts", seqTransitionCounts, Some(seqTransitionCountsSql)),
    Q("seq_nextpred_eval", seqNextpredEval, Some(seqNextpredEvalSql)),
    Q("a1_volatility", volatility, Some(volatilitySql)),
    Q("a2_trade_impact", tradeImpact, Some(tradeImpactSql)),
    Q("a3_predictability", predictability, Some(predictabilitySql)),
    Q("a4_imbalance", imbalance, Some(imbalanceSql)),
    Q("a5_vwap", vwap, Some(vwapSql)),
    Q("a6_book_liquidity", bookLiquidity, Some(bookLiquiditySql)),
    Q("a7_ema", ema, Some(emaSql)),
    Q("a8_max_drawdown", maxDrawdown, Some(maxDrawdownSql)),
    Q("funnel_stages", funnel, Some(funnelSql)),
    Q("funnel_ordered", orderedFunnel, Some(orderedFunnelSql)),
    Q("cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    Q("a9_activity_cov", activityCov, Some(activityCovSql)),
    Q("a12_pairwise_cov", pairwiseCovStats, Some(pairwiseCovStatsSql)),
    Q("a10_outlier_zscore", outlierZscore, Some(outlierZscoreSql)),
    Q("a11_lead_lag", leadLag, Some(leadLagSql)),
    Q("sessionization", sessionization, Some(sessionizationSql)),
    Q("scd2_history", scd2History, Some(scd2HistorySql)),
    Q("candle_resample", candleResample, Some(candleResampleSql)),
    Q("gapfill_locf", gapfillCloses, Some(gapfillClosesSql)))
}
