package graft.analytics

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General warehouse surface: scan→filter→aggregate, multi-way joins with
  * broadcast dimensions, grouping sets, window frames, top-k, set ops,
  * exact + approximate distinct. The reference delegates all of this to
  * ClickHouse (SURVEY.md §2.6 — it implements none of it itself), so this
  * pack is the Spark-native replacement surface.
  *
  * Money math goes through lossless DECIMAL casts (all testdata money
  * columns are 2-decimal; SURVEY.md §1.3 pins DoubleType fidelity): sums are
  * then exact and engine-independent, and the final CAST AS DOUBLE is a
  * single correctly-rounded conversion both Spark and DuckDB agree on.
  */
object Relational extends QueryPack {

  /** money column → lossless fixed-point */
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  /** rate column (discount/tax, 2dp, < 10) → lossless fixed-point */
  private def rate(c: Column): Column = c.cast("decimal(3,2)")
  private val oneRate = lit(1).cast("decimal(3,2)")
  /** price * (1 - discount), exact: (12,2)*(4,2) → scale 4 */
  private def discPrice(price: Column, disc: Column): Column =
    (dec2(price) * (oneRate - rate(disc))).cast("decimal(18,4)")

  private val discPriceSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))"

  /** Q1-style pricing summary: the canonical scan→filter→agg with exact
    * decimal sums. Filter reaches the parquet scan as a pushed predicate.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li     = Tables.load(s, dir, "lineitem")
    val dPrice = discPrice(col("l_extendedprice"), col("l_discount"))
    val charge = (dPrice * (oneRate + rate(col("l_tax")))).cast("decimal(24,6)")
    li.where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(rate(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  private val pricingSummarySql =
    s"""SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST($discPriceSql * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Q3-style top-k revenue: 3-way join (dimension side broadcast) + exact
    * decimal revenue so the top-10 selection is deterministic across engines.
    */
  def topkRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "revenue", "orderdate")
  }

  private val topkRevenueSql =
    s"""WITH rev AS (
      |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |         CAST(sum($discPriceSql) AS DOUBLE) AS revenue
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |  GROUP BY o_orderkey, o_orderdate)
      |SELECT o_orderkey, revenue, orderdate
      |FROM rev ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Q5-style regional revenue: 6-table star join; all dimensions broadcast,
    * single shuffle on the fact key.
    */
  def regionalRevenue(s: SparkSession, dir: String): DataFrame = {
    val li   = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val ord  = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat  = Tables.load(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val reg  = Tables.load(s, dir, "region").where(col("r_name") === "ASIA").select("r_regionkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val regionalRevenueSql =
    s"""SELECT n_name AS nation,
      |       CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  /** ROLLUP grouping sets with subtotal rows (nulls folded to 'ALL' so the
    * output is total-orderable for the hash compare).
    */
  def rollupPricing(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    li.rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
  }

  private val rollupPricingSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Running-total window frame per customer (ROWS UNBOUNDED PRECEDING),
    * exact decimal accumulation.
    */
  def runningSpend(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(
      col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
      sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
  }

  private val runningSpendSql =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin

  /** RANGE-frame window: per-customer 7-day trailing spend. Unlike the ROWS
    * frame of `window_running_spend`, the frame is bounded by the ORDER
    * VALUE (days), so same-day peers aggregate together and gaps shrink the
    * frame — the time-window semantics a ROWS frame cannot express. The
    * order key is an integer day number so Spark's numeric `rangeBetween`
    * and the oracle's `RANGE BETWEEN 6 PRECEDING` share exact semantics.
    */
  def trailingSpend(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-6, 0)
    o.select(
        col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("day_num"),
        col("o_totalprice"))
      .withColumn("trailing_7d",
        sum(dec2(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("day_num"), col("trailing_7d"))
  }

  private val trailingSpendSql =
    """SELECT o_custkey, o_orderkey,
      |       CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |            OVER (PARTITION BY o_custkey
      |                  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
      |FROM orders""".stripMargin

  /** Exact distinct counts per group (the HLL variant is `hll_approx_distinct`). */
  def distinctCustomers(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))

  private val distinctCustomersSql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
      |       count(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** INTERSECT: customers holding both open and filled orders. */
  def repeatBuyers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.where(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.where(col("o_orderstatus") === "O").select("o_custkey"))
  }

  private val repeatBuyersSql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  /** EXCEPT: customers with filled orders but no open orders. */
  def lapsedBuyers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.where(col("o_orderstatus") === "F").select("o_custkey")
      .except(o.where(col("o_orderstatus") === "O").select("o_custkey"))
  }

  private val lapsedBuyersSql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  /** HLL sketch distinct (approx_count_distinct, rsd=0.01). The raw
    * estimates are engine-specific (register layout) and stay pinned by the
    * ScalaTest 5% law; the REGISTERED `hll_approx_distinct` surface is
    * [[hllDistinctAudit]], which hash-gates the law itself.
    */
  def hllApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.01).as("approx_customers"))

  /** Oracle-gated HLL audit (the [[approxQuantiles]] treatment applied to
    * HyperLogLog): emit the group keys, the EXACT distinct count, and a 0/1
    * verdict that the engine's sketch estimate lands within ±5% of it. The
    * estimate itself cannot replay in another engine, but the error law is
    * deterministic (Spark's HLL is a pure function of the data), so a
    * sketch regression flips the hash gate instead of hiding behind
    * `no_oracle`. Exact-vs-sketch runs as two separate 3-row aggregates
    * joined at the end — never one mixed distinct+plain agg (Expand).
    */
  def hllDistinctAudit(s: SparkSession, dir: String): DataFrame = {
    val est = hllApproxDistinct(s, dir)
    Tables.load(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
      .join(broadcast(est), "o_orderstatus")
      .select(col("o_orderstatus"), col("n_customers"),
        when(abs(col("approx_customers") - col("n_customers")) * 100
          <= col("n_customers") * 5, 1L).otherwise(0L).as("hll_within_5pct"))
  }

  private val hllDistinctAuditSql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
      |       CAST(1 AS BIGINT) AS hll_within_5pct
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** percentile_approx accuracy: guaranteed rank error ≤ n/this */
  private final val AqAccuracy = 10000

  /** Raw approximate quantile sketch per group (GK-style `percentile_approx`,
    * accuracy [[AqAccuracy]]): mergeable bounded-size sketch state — the
    * scale path when A2's exact value-histogram doesn't apply because the
    * column is continuous and high-cardinality. The emitted VALUES are
    * engine-specific (sketch internals); LlmSpec pins them within 1% of the
    * exact quantiles. The ORACLE-GATED surface is [[approxQuantiles]] below.
    */
  def approxQuantilesRaw(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        percentile_approx(
          col("o_totalprice"), array(lit(0.5), lit(0.9), lit(0.99)), lit(AqAccuracy))
          .as("q"))
      // scalar columns, not the array: the compare tooling hashes flat cells
      .select(
        col("o_orderstatus"), col("n_orders"),
        col("q").getItem(0).as("p50"),
        col("q").getItem(1).as("p90"),
        col("q").getItem(2).as("p99"))

  /** Oracle-gated quantile-sketch audit: re-derive each sketch output's
    * EXACT rank window in one candidate-restricted pass (3 values per group
    * broadcast back against the fact) and emit whether the GK guarantee
    * |rank − q·n| ≤ n/accuracy holds, as 0/1 longs. The sketch values
    * themselves cannot be replayed by another engine, but the guarantee is
    * deterministic — a sketch violating it flips the hash gate, so the
    * CORRECTNESS row now pins rows + schema + the error law instead of
    * being unoracled. (The rank window uses count(<v) and count(≤v): for
    * duplicated values the guarantee applies to SOME rank of v's run.)
    */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val sk = approxQuantilesRaw(s, dir)
    def rankOk(p: String, q: Double) = {
      val lo = sum(when(col("o_totalprice") < col(p), 1L).otherwise(0L))
      val hi = sum(when(col("o_totalprice") <= col(p), 1L).otherwise(0L))
      val n = count(lit(1)).cast("double")
      val eps = n / lit(AqAccuracy.toDouble) + lit(1.0)
      when(lo + lit(1L) <= lit(q) * n + eps && hi >= lit(q) * n - eps, 1L)
        .otherwise(0L).as(s"${p}_rank_ok")
    }
    orders.join(broadcast(sk), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        rankOk("p50", 0.5), rankOk("p90", 0.9), rankOk("p99", 0.99))
  }

  private val approxQuantilesSql =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       CAST(1 AS BIGINT) AS p50_rank_ok,
      |       CAST(1 AS BIGINT) AS p90_rank_ok,
      |       CAST(1 AS BIGINT) AS p99_rank_ok
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** CUBE grouping sets (all 2^k subtotal combinations; nulls folded to
    * 'ALL' so the output is total-orderable for the hash compare).
    */
  def cubePricing(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    li.cube("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("sum_price"), col("n"))
  }

  private val cubePricingSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |       count(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  /** Explicit GROUPING SETS (beyond rollup/cube's fixed lattices): the two
    * single-dimension marginals plus the grand total, with `grouping()`
    * flags exported so consumers can tell a real NULL from a subtotal row.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       grouping(l_returnflag) AS g_flag,
        |       grouping(l_linestatus) AS g_status,
        |       sum(l_quantity) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  private val groupingSetsSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS TINYINT) AS g_status,
      |       sum(l_quantity) AS sum_qty,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** NTILE quartiles over per-customer total spend: the bucketing window
    * every percentile-band report uses. The order carries the unique
    * custkey tie-break, so bucket assignment is total-ordered and
    * deterministic; ntile's uneven-split rule (earlier buckets take the
    * remainder) is shared by both engines.
    *
    * The global (partition-less) window runs over the REDUCED per-customer
    * relation, never the fact table — the aggregation does the scaling.
    * Exact global ntile inherently needs a total order; past ~10⁷ reduced
    * rows swap the window for approx-quantile thresholds
    * ([[approxQuantiles]]) joined as band boundaries.
    */
  def spendQuartiles(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val totals = o.groupBy("o_custkey")
      .agg(sum(dec2(col("o_totalprice"))).cast("double").as("total_spend"))
    val w = Window.orderBy(col("total_spend").desc, col("o_custkey"))
    totals
      .withColumn("quartile", ntile(4).over(w))
      .groupBy("quartile")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("total_spend").cast("decimal(18,2)")).cast("double").as("band_spend"))
  }

  private val spendQuartilesSql =
    """WITH t AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
      |  FROM orders GROUP BY o_custkey),
      |q AS (
      |  SELECT total_spend,
      |         ntile(4) OVER (ORDER BY total_spend DESC, o_custkey) AS quartile
      |  FROM t)
      |SELECT quartile, count(*) AS n_customers,
      |       CAST(sum(CAST(total_spend AS DECIMAL(18,2))) AS DOUBLE) AS band_spend
      |FROM q GROUP BY quartile""".stripMargin

  /** As-of join ([[graft.operators.Asof.joinLatest]]): each click event is
    * matched to the user's latest purchase at-or-before it. Value sums stay
    * in exact integer space (`floor(value*1000)` — both engines floor the
    * identical double).
    */
  def asofClickPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("pval"))
    graft.operators.Asof.joinLatest(clicks, purchases, "user_id", "ts", "ts", "pval")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("pval_asof")).as("n_matched"),
        coalesce(sum(floor(col("pval_asof") * 1000).cast("long")), lit(0L)).as("sum_v3"))
  }

  private val asofClickPurchaseSql =
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv FROM events
      |  WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, arg_max(value, event_id) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.user_id, count(*) AS n_clicks,
      |       count(p.pval) AS n_matched,
      |       CAST(coalesce(sum(CAST(floor(p.pval * 1000) AS BIGINT)), 0) AS BIGINT) AS sum_v3
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.tsv >= p.tsv
      |GROUP BY c.user_id""".stripMargin

  /** As-of join again — but through the FIRST-CLASS physical operator
    * ([[org.apache.spark.sql.graftx.AsOf.join]]: custom logical node +
    * planner strategy + co-partitioned streaming-merge exec) instead of the
    * union+window composition `asof_click_purchase` gates. Same DuckDB
    * `ASOF LEFT JOIN` oracle family, plus the matched purchase row's OWN
    * timestamp (provable only because the exec returns the whole right row,
    * not just a carried value). The exec holds one row of state per
    * partition: both sides hash-cluster on user and sort by (user, ts) —
    * the SortMergeJoin contract — then a single forward merge pass picks
    * each click's latest at-or-before purchase. No candidate fan-out at any
    * scale, and the exec's `outputPartitioning` passes the left clustering
    * through so the per-user rollup below adds NO further shuffle.
    */
  def asofNativeExec(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("pval"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("pval"))
    org.apache.spark.sql.graftx.AsOf.join(
        clicks, purchases,
        Seq(col("user_id")), Seq(col("p_user")), col("ts"), col("p_ts"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("pval")).as("n_matched"),
        coalesce(sum(floor(col("pval") * 1000).cast("long")), lit(0L)).as("sum_v3"),
        date_format(max(col("p_ts")), "yyyy-MM-dd HH:mm:ss").as("last_match"))
  }

  private val asofNativeExecSql =
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv FROM events
      |  WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, arg_max(value, event_id) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.user_id, count(*) AS n_clicks,
      |       count(p.pval) AS n_matched,
      |       CAST(coalesce(sum(CAST(floor(p.pval * 1000) AS BIGINT)), 0) AS BIGINT) AS sum_v3,
      |       strftime(max(p.tsv), '%Y-%m-%d %H:%M:%S') AS last_match
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.tsv >= p.tsv
      |GROUP BY c.user_id""".stripMargin

  /** Staleness-bounded native as-of: same exec, `tolerance` = 24 h in
    * micros — a latest-at-or-before purchase older than a day is nulled
    * INSIDE the merge (one branch on two held longs), not by a post-join
    * filter pass. The DuckDB oracle replays the equivalence the exec's
    * doc proves: ASOF pick first, then null the stale (the held row is the
    * closest candidate, so post-filtering the oracle is exact).
    */
  def asofNativeTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("pval"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("pval"))
    org.apache.spark.sql.graftx.AsOf.join(
        clicks, purchases,
        Seq(col("user_id")), Seq(col("p_user")), col("ts"), col("p_ts"),
        Some(24L * 3600 * 1000000))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("pval")).as("n_fresh"),
        coalesce(sum(floor(col("pval") * 1000).cast("long")), lit(0L)).as("sum_v3"))
  }

  private val asofNativeToleranceSql =
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv FROM events
      |  WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, arg_max(value, event_id) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j AS (
      |  SELECT c.user_id, c.tsv AS ctv, p.tsv AS ptv, p.pval
      |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.tsv >= p.tsv)
      |SELECT user_id, count(*) AS n_clicks,
      |       count(CASE WHEN epoch_us(ctv) - epoch_us(ptv) <= 86400000000
      |                  THEN pval END) AS n_fresh,
      |       CAST(coalesce(sum(CASE WHEN epoch_us(ctv) - epoch_us(ptv) <= 86400000000
      |                  THEN CAST(floor(pval * 1000) AS BIGINT) END), 0) AS BIGINT) AS sum_v3
      |FROM j GROUP BY user_id""".stripMargin

  /** FORWARD native as-of: each click waits for the user's NEXT purchase
    * (earliest at-or-after — time-to-conversion attribution). Same merge
    * exec run in forward mode: the right cursor parks ON the earliest
    * candidate instead of holding a copy behind it, so one right row can
    * serve several waiting clicks. Gap sums stay exact integer micros.
    */
  def asofNativeForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("pval"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("pval"))
    org.apache.spark.sql.graftx.AsOf.join(
        clicks, purchases,
        Seq(col("user_id")), Seq(col("p_user")), col("ts"), col("p_ts"),
        None, forward = true)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("pval")).as("n_converted"),
        coalesce(sum((unix_micros(col("p_ts")) - unix_micros(col("ts")))), lit(0L))
          .as("wait_us"))
  }

  private val asofNativeForwardSql =
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv FROM events
      |  WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsv, arg_max(value, event_id) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.user_id, count(*) AS n_clicks,
      |       count(p.pval) AS n_converted,
      |       CAST(coalesce(sum(epoch_us(p.tsv) - epoch_us(c.tsv)), 0) AS BIGINT) AS wait_us
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.tsv <= p.tsv
      |GROUP BY c.user_id""".stripMargin

  /** PIVOT: order counts as a (priority × status) matrix. Explicit pivot
    * values keep the plan single-pass (no values-discovery job) and the
    * output schema static; absent cells coalesce to 0 so the relation is
    * total. One shuffle on the row key; the pivot itself is a map-side
    * conditional aggregate.
    */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_filled"),
        coalesce(col("P"), lit(0L)).as("n_pending"))

  private val pivotStatusSql =
    """SELECT o_orderpriority,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_filled,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** UNPIVOT / melt — the inverse reshape of [[pivotStatus]], via the native
    * `Dataset.unpivot` (UnpivotExec: a narrow per-row expansion, no shuffle
    * beyond the source agg): wide status columns back to tidy
    * (priority, status_col, n) rows. Pivot → unpivot round-tripping is how
    * wide report matrices re-enter relational pipelines.
    */
  def unpivotStatus(s: SparkSession, dir: String): DataFrame =
    pivotStatus(s, dir)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_open"), col("n_filled"), col("n_pending")),
        "status_col", "n")

  private val unpivotStatusSql =
    """SELECT o_orderpriority, s.status_col,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = s.code) AS BIGINT) AS n
      |FROM orders
      |CROSS JOIN (VALUES ('O', 'n_open'), ('F', 'n_filled'), ('P', 'n_pending'))
      |  AS s(code, status_col)
      |GROUP BY o_orderpriority, s.status_col""".stripMargin

  /** Skew-mitigated join ([[graft.operators.SaltedJoin]]): a synthetic
    * 70%-hot key (7 of 10 lineitem rows collapse onto key 0) joined to a
    * 51-row group dim, salted 16 ways so the hot key's rows spread over 16
    * reducers instead of stalling one. The oracle is the PLAIN join — the
    * salt must be invisible in the result. (At this dim size the planner
    * rightly broadcasts and no skew exists; the operator is for dims above
    * the broadcast threshold, where the salted key is what keeps the
    * shuffle balanced — SaltedJoinSpec pins the key-spreading itself.)
    */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val fact = li.select(
      when(col("l_orderkey") % 10 < 7, 0L)
        .otherwise(col("l_partkey") % 50 + 1).as("hot_key"),
      col("l_extendedprice"))
    val dim = s.range(0, 51)
      .select(col("id").as("hot_key"), concat(lit("G"), col("id")).as("grp"))
    graft.operators.SaltedJoin.join(fact, dim, "hot_key", salts = 16)
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
  }

  private val skewJoinSql =
    """WITH fact AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
      |              ELSE l_partkey % 50 + 1 END AS hot_key,
      |         l_extendedprice
      |  FROM lineitem),
      |dim AS (SELECT r AS hot_key, 'G' || r AS grp FROM range(0, 51) t(r))
      |SELECT grp, count(*) AS n_rows,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM fact JOIN dim USING (hot_key)
      |GROUP BY grp""".stripMargin

  /** Interval join ([[graft.operators.RangeJoin.joinPointInInterval]]): each
    * purchase event is matched to the same user's clicks in the trailing
    * hour. The operator grid-bucketizes both sides (1h pitch ⇒ ≤2 buckets
    * per interval) so the plan is an equi-join on (user, bucket) — never a
    * nested loop. Purchases with no clicks are restored by a right join
    * back onto the purchase set (count 0).
    */
  def rangeJoinClicks(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val windows = purchases
      .withColumn("w_start", col("p_us") - hourUs)
    val joined = graft.operators.RangeJoin.joinPointInInterval(
      clicks, windows, "user_id",
      pointCol = "c_us", startCol = "w_start", endCol = "p_us",
      granularity = hourUs)
    val counts = joined.groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks_1h"))
    purchases
      .join(counts, Seq("event_id"), "left")
      .select(
        col("event_id"), col("user_id"),
        coalesce(col("n_clicks_1h"), lit(0L)).as("n_clicks_1h"))
  }

  private val rangeJoinClicksSql =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id,
      |       CAST(count(c.cts) AS BIGINT) AS n_clicks_1h
      |FROM p LEFT JOIN c
      |  ON p.user_id = c.user_id
      | AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts
      |GROUP BY p.event_id, p.user_id""".stripMargin

  /** CDC MERGE ([[graft.operators.Merge]]): a change log derived from
    * orders is folded into the customer snapshot — latest change per key
    * wins (version = orderdate, orderkey), `D` ops delete, keys absent from
    * the base insert (keys shifted by 1e6 simulate late-arriving entities).
    * The oracle replays the same fold declaratively (window + outer join +
    * NOT EXISTS), pinning all three MERGE paths.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), dec2(col("c_acctbal")).as("bal"))
    val changes = Tables.load(s, dir, "orders").select(
      when(col("o_orderkey") % 50 === 7, col("o_custkey") + 1000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      col("o_orderdate"), col("o_orderkey"),
      when(col("o_orderkey") % 20 === 0, "D").otherwise("U").as("op"),
      dec2(col("o_totalprice")).as("bal"))
    graft.operators.Merge(
        base, changes,
        keyCols = Seq("c_custkey"),
        versionCols = Seq("o_orderdate", "o_orderkey"),
        opCol = "op",
        payloadCols = Seq("bal"))
      .select(col("c_custkey"), col("bal").cast("double").as("bal"))
  }

  private val mergeUpsertSql =
    """WITH ch AS (
      |  SELECT CASE WHEN o_orderkey % 50 = 7 THEN o_custkey + 1000000
      |              ELSE o_custkey END AS c_custkey,
      |         CASE WHEN o_orderkey % 20 = 0 THEN 'D' ELSE 'U' END AS op,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS newbal,
      |         row_number() OVER (
      |           PARTITION BY CASE WHEN o_orderkey % 50 = 7 THEN o_custkey + 1000000
      |                             ELSE o_custkey END
      |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders),
      |latest AS (SELECT c_custkey, op, newbal FROM ch WHERE rn = 1),
      |upd AS (
      |  SELECT c.c_custkey,
      |         CAST(CASE WHEN l.op IS NOT NULL THEN l.newbal
      |                   ELSE CAST(c.c_acctbal AS DECIMAL(12,2)) END AS DOUBLE) AS bal
      |  FROM customer c LEFT JOIN latest l ON c.c_custkey = l.c_custkey
      |  WHERE l.op IS NULL OR l.op <> 'D'),
      |ins AS (
      |  SELECT l.c_custkey, CAST(l.newbal AS DOUBLE) AS bal
      |  FROM latest l
      |  WHERE l.op <> 'D'
      |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = l.c_custkey))
      |SELECT c_custkey, bal FROM upd
      |UNION ALL
      |SELECT c_custkey, bal FROM ins""".stripMargin

  /** Semi/anti join surface: parts that have been ordered (LEFT SEMI) vs
    * never ordered (LEFT ANTI), counted per brand. Both joins shuffle the
    * fact side once on the part key and keep only the existence bit — no
    * fact payload survives the join, which is the point of semi/anti over
    * inner+distinct at scale.
    */
  def semiAntiParts(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(s, dir, "part").select("p_partkey", "p_brand")
    val li = Tables.load(s, dir, "lineitem").select("l_partkey")
    val ordered = part.join(li, col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy("p_brand").agg(count(lit(1)).as("n_ordered"))
    val never = part.join(li, col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy("p_brand").agg(count(lit(1)).as("n_never"))
    ordered.join(never, Seq("p_brand"), "full_outer")
      .select(
        col("p_brand"),
        coalesce(col("n_ordered"), lit(0L)).as("n_ordered"),
        coalesce(col("n_never"), lit(0L)).as("n_never"))
  }

  private val semiAntiPartsSql =
    """WITH o AS (
      |  SELECT p_brand,
      |         EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey) AS is_ordered
      |  FROM part p)
      |SELECT p_brand,
      |       CAST(count(*) FILTER (WHERE is_ordered) AS BIGINT) AS n_ordered,
      |       CAST(count(*) FILTER (WHERE NOT is_ordered) AS BIGINT) AS n_never
      |FROM o GROUP BY p_brand""".stripMargin

  /** Join-key skew profile — the diagnosis step that decides between a plain
    * join, [[graft.operators.SaltedJoin]] and AQE skew handling: per-key
    * group sizes reduced to one stats row (key count, max/min/p50/p99 group
    * size, max/avg skew ratio, and the deterministic hottest key). Exact
    * percentiles come from the bounded (size, count) histogram
    * ([[Analytics.quantileFromHist]] — `quantile_cont` semantics without an
    * all-rows buffer); the skew ratio is a pure double-quotient chain, exact
    * in both engines.
    *
    * Scale notes (100 TB posture): two cheap shuffles on shrinking relations
    * (fact → per-key counts → per-size histogram); per-task state is bounded
    * by size cardinality, never key cardinality. The hottest key is a
    * TakeOrdered over the counts relation, not a global sort.
    */
  def skewProfile(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val li = Tables.load(s, dir, "lineitem")
    val sizes = keep(li.groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("sz")))
    val q = sizes.groupBy("sz").agg(count(lit(1)).as("cnt"))
      .agg(array_sort(collect_list(struct(col("sz").cast("double").as("v"), col("cnt")))).as("h"))
      .select(
        Analytics.quantileFromHist(col("h"), lit(0.5)).as("p50_size"),
        Analytics.quantileFromHist(col("h"), lit(0.99)).as("p99_size"))
    val hot = sizes.orderBy(col("sz").desc, col("k")).limit(1)
      .select(col("k").as("hot_key"))
    sizes
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("sz")).as("n_rows"),
        max(col("sz")).as("max_size"),
        min(col("sz")).as("min_size"))
      .crossJoin(broadcast(q))
      .crossJoin(broadcast(hot))
      .select(col("n_keys"), col("n_rows"), col("max_size"), col("min_size"),
        col("p50_size"), col("p99_size"),
        (col("max_size") / (col("n_rows") / col("n_keys").cast("double"))).as("skew_ratio"),
        col("hot_key"))
  }

  private val skewProfileSql =
    """WITH sz AS (SELECT l_partkey AS k, count(*) AS s FROM lineitem GROUP BY 1)
      |SELECT count(*) AS n_keys, CAST(sum(s) AS BIGINT) AS n_rows,
      |       max(s) AS max_size, min(s) AS min_size,
      |       quantile_cont(s, 0.5) AS p50_size, quantile_cont(s, 0.99) AS p99_size,
      |       max(s) / (CAST(sum(s) AS BIGINT) / CAST(count(*) AS DOUBLE)) AS skew_ratio,
      |       (SELECT min(k) FROM sz WHERE s = (SELECT max(s) FROM sz)) AS hot_key
      |FROM sz""".stripMargin

  /** Bloom-pruned fact/dim join ([[graft.operators.BloomPrune]]): spend by
    * order priority for one customer segment, with the orders side pruned by
    * a broadcast Bloom sketch of the eligible custkeys BEFORE the join
    * shuffle. Bloom filters have no false negatives, so the result is
    * byte-identical to the plain join the oracle runs — only the shuffled
    * volume changes (~segment-fraction + fpp of orders instead of all of
    * them). The join deliberately carries no broadcast hint: the scenario is
    * a dim too big to broadcast whose key set still fits a sketch.
    */
  def bloomPruneJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.load(s, dir, "orders")
      .select("o_custkey", "o_orderpriority", "o_totalprice")
    // the sketch is rebuilt per construction (one small read-only job), NOT
    // memoized by dir: it is content-derived, and a stale cache after an
    // in-JVM data rewrite would introduce false negatives — silently dropped
    // join rows — violating the operator's exactness contract
    val bf = graft.operators.BloomPrune.buildFilter(cust, "c_custkey", expectedItems = 100000L)
    val pruned = graft.operators.BloomPrune.prune(ord, "o_custkey", bf)
    pruned.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("segment_spend"))
  }

  private val bloomPruneJoinSql =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS segment_spend
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderpriority""".stripMargin

  /** JSON property extraction: `events.props` is a JSON string column;
    * `get_json_object` pulls the single field in ONE parse per row (the
    * multi-field case goes through the pack's from_json-in-Generate barrier
    * — CLAUDE.md plan rules), then an exact integer aggregate per type.
    */
  def propsExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  private val propsExtractSql =
    """SELECT event_type, count(*) AS n,
      |       CAST(count(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
      |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      |       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  /** Column profiler: per-column null count, EXACT distinct count, and
    * min/max of orders — the data-quality primitives every ingestion audit
    * runs. min/max are emitted only for engine-stable string renderings
    * (integers, strings); float/timestamp renderings differ across engines
    * and stay NULL.
    *
    * Plan shape (the round-5 fix): one TWO-LEVEL aggregate per column —
    * `groupBy(value) → count` collapses duplicates map-side, then a 1-row
    * reduce derives n_rows (Σcnt), n_null (Σcnt where value null),
    * n_distinct (count of non-null groups) and min/max — unioned across the
    * six columns. NO Expand anywhere: the earlier single-aggregate
    * formulation planned a ×7 row multiplication of the full fact before
    * the partial agg, a named scale-killer. Here each union leg scans ONLY
    * its own column (parquet-pruned, so six legs ≈ one full-width scan in
    * bytes) and its shuffle carries just the column's DISTINCT values —
    * bounded by cardinality, not row count, for every column except
    * unique keys, where exact distinct irreducibly shuffles the 8-byte key
    * column. When a 2% estimate is acceptable, [[profileOrdersApprox]] does
    * the whole profile in one pass with mergeable HLL sketches and no
    * per-key shuffle at all; PlanSpec pins both shapes Expand-free and
    * LlmSpec pins the twins within 5% of each other.
    */
  def profileOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadSpread(s, dir, "orders")
    val nullS = lit(null).cast("string")
    def leg(c: String, mn: Column => Column, mx: Column => Column): DataFrame =
      o.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
          count(col("v")).as("n_distinct"),
          mn(col("v")).as("min_s"),
          mx(col("v")).as("max_s"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    // min/max in the NATIVE type, cast to string after (lexicographic
    // min-of-strings would order "10" < "9")
    def minS(v: Column) = min(v).cast("string")
    def maxS(v: Column) = max(v).cast("string")
    def skip(v: Column) = max(nullS) // engine-unstable rendering → NULL
    leg("o_orderkey", minS, maxS)
      .unionAll(leg("o_custkey", minS, maxS))
      .unionAll(leg("o_orderstatus", v => min(v), v => max(v)))
      .unionAll(leg("o_totalprice", skip, skip))
      .unionAll(leg("o_orderdate", skip, skip))
      .unionAll(leg("o_orderpriority", v => min(v), v => max(v)))
  }

  private val profileOrdersSql =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS null_orderkey,
      |    count(DISTINCT o_orderkey) AS dist_orderkey,
      |    CAST(min(o_orderkey) AS VARCHAR) AS min_orderkey,
      |    CAST(max(o_orderkey) AS VARCHAR) AS max_orderkey,
      |    CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS null_custkey,
      |    count(DISTINCT o_custkey) AS dist_custkey,
      |    CAST(min(o_custkey) AS VARCHAR) AS min_custkey,
      |    CAST(max(o_custkey) AS VARCHAR) AS max_custkey,
      |    CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT) AS null_status,
      |    count(DISTINCT o_orderstatus) AS dist_status,
      |    min(o_orderstatus) AS min_status,
      |    max(o_orderstatus) AS max_status,
      |    CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT) AS null_totalprice,
      |    count(DISTINCT o_totalprice) AS dist_totalprice,
      |    CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) AS null_orderdate,
      |    count(DISTINCT o_orderdate) AS dist_orderdate,
      |    CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT) AS null_priority,
      |    count(DISTINCT o_orderpriority) AS dist_priority,
      |    min(o_orderpriority) AS min_priority,
      |    max(o_orderpriority) AS max_priority
      |  FROM orders)
      |SELECT 'o_orderkey' AS column_name, n_rows, null_orderkey AS n_null,
      |       dist_orderkey AS n_distinct, min_orderkey AS min_s, max_orderkey AS max_s FROM a
      |UNION ALL SELECT 'o_custkey', n_rows, null_custkey, dist_custkey, min_custkey, max_custkey FROM a
      |UNION ALL SELECT 'o_orderstatus', n_rows, null_status, dist_status, min_status, max_status FROM a
      |UNION ALL SELECT 'o_totalprice', n_rows, null_totalprice, dist_totalprice, NULL, NULL FROM a
      |UNION ALL SELECT 'o_orderdate', n_rows, null_orderdate, dist_orderdate, NULL, NULL FROM a
      |UNION ALL SELECT 'o_orderpriority', n_rows, null_priority, dist_priority, min_priority, max_priority FROM a""".stripMargin

  /** The 100-TB-safe twin of [[profileOrders]]: identical output shape with
    * every exact `countDistinct` replaced by a mergeable HLL sketch
    * (`approx_count_distinct`, rsd = 0.02). One pass, one ordinary partial
    * aggregate — NO Expand, no ×6 fact multiplication — so the plan is a
    * scan plus a single 1-row reduce at any scale. rsd tuning is a real
    * cost axis with SIX sketches sharing one aggregation buffer: 0.01
    * (16K registers each) measured 10× slower than 0.02 (4K) on the same
    * data; 0.04 breached the 5% spec law on a 1.5K-distinct column. Sketch estimates are
    * engine-specific → no SQL oracle; LlmSpec pins every n_distinct within
    * 5% of the exact profiler on the same data (rows-only check here).
    */
  def profileOrdersApprox(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadSpread(s, dir, "orders")
    val one = o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
      approx_count_distinct(col("o_orderkey"), rsd = 0.02).as("dist_orderkey"),
      min(col("o_orderkey")).cast("string").as("min_orderkey"),
      max(col("o_orderkey")).cast("string").as("max_orderkey"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      approx_count_distinct(col("o_custkey"), rsd = 0.02).as("dist_custkey"),
      min(col("o_custkey")).cast("string").as("min_custkey"),
      max(col("o_custkey")).cast("string").as("max_custkey"),
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_status"),
      approx_count_distinct(col("o_orderstatus"), rsd = 0.02).as("dist_status"),
      min(col("o_orderstatus")).as("min_status"),
      max(col("o_orderstatus")).as("max_status"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_totalprice"),
      approx_count_distinct(col("o_totalprice"), rsd = 0.02).as("dist_totalprice"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_orderdate"),
      approx_count_distinct(col("o_orderdate"), rsd = 0.02).as("dist_orderdate"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("null_priority"),
      approx_count_distinct(col("o_orderpriority"), rsd = 0.02).as("dist_priority"),
      min(col("o_orderpriority")).as("min_priority"),
      max(col("o_orderpriority")).as("max_priority"))
    def row(name: String, nulls: Column, dist: Column, mn: Column, mx: Column) =
      struct(lit(name).as("column_name"), col("n_rows"), nulls.as("n_null"),
        dist.as("n_distinct"), mn.as("min_s"), mx.as("max_s"))
    val nullS = lit(null).cast("string")
    one.select(explode(array(
        row("o_orderkey", col("null_orderkey"), col("dist_orderkey"),
          col("min_orderkey"), col("max_orderkey")),
        row("o_custkey", col("null_custkey"), col("dist_custkey"),
          col("min_custkey"), col("max_custkey")),
        row("o_orderstatus", col("null_status"), col("dist_status"),
          col("min_status"), col("max_status")),
        row("o_totalprice", col("null_totalprice"), col("dist_totalprice"), nullS, nullS),
        row("o_orderdate", col("null_orderdate"), col("dist_orderdate"), nullS, nullS),
        row("o_orderpriority", col("null_priority"), col("dist_priority"),
          col("min_priority"), col("max_priority")))).as("p"))
      .select("p.column_name", "p.n_rows", "p.n_null", "p.n_distinct", "p.min_s", "p.max_s")
  }

  /** Oracle-gated audit of [[profileOrdersApprox]]: every field the sketch
    * profiler computes EXACTLY (row counts, null counts, min/max) is
    * emitted as-is and hash-compared, and each HLL `n_distinct` becomes a
    * 0/1 within-±5%-of-exact verdict against [[profileOrders]] — so the
    * registered `profile_orders_approx` row pins rows + schema + the error
    * law instead of `no_oracle`. The join is 6 rows × 6 rows on
    * column_name; the raw estimates stay additionally pinned in LlmSpec.
    */
  def profileOrdersApproxAudit(s: SparkSession, dir: String): DataFrame = {
    val ex = profileOrders(s, dir)
      .select(col("column_name"), col("n_distinct").as("exact_distinct"))
    profileOrdersApprox(s, dir)
      .join(broadcast(ex), "column_name")
      .select(col("column_name"), col("n_rows"), col("n_null"),
        when(abs(col("n_distinct") - col("exact_distinct")) * 100
          <= col("exact_distinct") * 5, 1L).otherwise(0L).as("dist_within_5pct"),
        col("min_s"), col("max_s"))
  }

  private val profileOrdersApproxAuditSql =
    s"""SELECT column_name, n_rows, n_null,
      |       CAST(1 AS BIGINT) AS dist_within_5pct, min_s, max_s
      |FROM ($profileOrdersSql)""".stripMargin

  /** Rank-function family over a deterministic total order — ntile /
    * percent_rank / cume_dist in ONE window pass, folded to per-(status,
    * quartile) accounting. Both engines compute identical doubles because
    * the order is TOTAL (cents, then the unique order key breaks ties) and
    * the rank ratios are single exact divisions of longs; the fold uses
    * min/max (order-independent picks), never a sum of doubles. One shuffle
    * on the partition key; the window sorts within partitions only.
    */
  def windowRankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy(col("cents"), col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("o_orderstatus", "quartile")
      .agg(
        count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        min("pr").as("min_pr"), max("pr").as("max_pr"),
        max("cd").as("max_cd"))
  }

  private val windowRankFamilySql =
    """WITH r AS (
      |  SELECT o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |         percent_rank() OVER w AS pr,
      |         cume_dist() OVER w AS cd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderstatus
      |               ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT), o_orderkey))
      |SELECT o_orderstatus, quartile, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       min(pr) AS min_pr, max(pr) AS max_pr, max(cd) AS max_cd
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Interpolated (continuous) per-group median over the value histogram —
    * the quantile_cont twin of [[exactMedianGroups]]'s discrete pick: at
    * even group sizes the median is `lo + (hi − lo) · 0.5` over the two
    * middle ELEMENTS, each selected by cumulative count from the histogram
    * (task state bounded by value cardinality, like every quantile in this
    * engine). All inputs are exact-in-double cents and the interpolation is
    * two exact IEEE ops, so the gate stays bit-strict — the oracle spells
    * THE SAME histogram selection rather than leaning on an engine's
    * internal quantile_cont arithmetic.
    */
  def medianCont(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.load(s, dir, "orders")
      .select(col("o_orderstatus"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      .groupBy("o_orderstatus", "cents").agg(count(lit(1)).as("cnt"))
    val ordered = Window.partitionBy("o_orderstatus").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("o_orderstatus")
    hist
      .withColumn("cum", sum("cnt").over(ordered))
      .withColumn("n", sum("cnt").over(whole))
      // 1-based ranks of the two middle elements: for odd n they coincide
      .withColumn("rlo", expr("(n + 1) div 2"))
      .withColumn("rhi", expr("(n + 2) div 2"))
      .groupBy("o_orderstatus", "n")
      .agg(
        min(when(col("cum") >= col("rlo"), col("cents"))).as("lo"),
        min(when(col("cum") >= col("rhi"), col("cents"))).as("hi"))
      .select(col("o_orderstatus"), col("n"),
        (col("lo").cast("double") +
          (col("hi") - col("lo")).cast("double") / lit(2)).as("med_cont_cents"))
  }

  private val medianContSql =
    """WITH c AS (
      |  SELECT o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |h AS (SELECT o_orderstatus, cents, count(*) AS cnt FROM c GROUP BY 1, 2),
      |cum AS (
      |  SELECT o_orderstatus, cents,
      |         CAST(sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY cents
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
      |  FROM h),
      |sel AS (
      |  SELECT o_orderstatus, n,
      |         min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS lo,
      |         min(CASE WHEN cum >= (n + 2) // 2 THEN cents END) AS hi
      |  FROM cum GROUP BY 1, 2)
      |SELECT o_orderstatus, n,
      |       CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) / 2 AS med_cont_cents
      |FROM sel""".stripMargin

  /** Fixed-width histogram of order totals (30k-wide buckets). The bucket
    * index is floor(v/30000) — a single correctly-rounded IEEE division
    * both engines share, NOT width_bucket, whose internal
    * (v−min)/(max−min)·n float path can land boundary values in different
    * buckets per engine. Map-side combine makes this one scan + one
    * tiny-key shuffle at any scale.
    */
  def histPrice(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 30000).cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("bucket_total"))

  private val histPriceSql =
    """SELECT CAST(floor(o_totalprice / 30000) AS BIGINT) AS bucket,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bucket_total
      |FROM orders GROUP BY 1""".stripMargin

  /** Table snapshot diff — the CDC-reconciliation operator: given the
    * current snapshot and a prior one, classify every key as
    * added / removed / changed / unchanged via ONE full-outer join and emit
    * per-class counts plus a key checksum (so a misclassified row flips the
    * gate, not just a count that might cancel). The prior snapshot is
    * synthesized deterministically from the current one (drop every 97th
    * key, bump price on every 31st, add a foreign key range), identically
    * in both engines.
    *
    * Scale notes (100 TB posture): one key-partitioned shuffle join carrying
    * only (key, payload-hash) — on bucketed snapshots it is exchange-free;
    * output is 4 rows. Payload equality compares the column directly here;
    * a wide table would compare an md5 over a canonical column concat, same
    * plan shape.
    */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val cur = o.select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val prior = o.where(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 31 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("p"))
      .unionByName(o.where(col("o_orderkey") % 41 === 0)
        .select((col("o_orderkey") + 1000000000L).as("k"), col("o_totalprice").as("p")))
    val joined = cur.as("a").join(prior.as("b"), col("a.k") === col("b.k"), "full_outer")
    joined.select(
      when(col("b.k").isNull, "added")
        .when(col("a.k").isNull, "removed")
        .when(col("a.p") =!= col("b.p"), "changed")
        .otherwise("unchanged").as("status"),
      coalesce(col("a.k"), col("b.k")).as("k"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"), sum(col("k")).as("key_sum"))
  }

  private val tableDiffSql =
    """WITH cur AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
      |prior AS (
      |  SELECT o_orderkey AS k,
      |         CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS p
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_totalprice FROM orders WHERE o_orderkey % 41 = 0),
      |d AS (
      |  SELECT CASE WHEN b.k IS NULL THEN 'added'
      |              WHEN a.k IS NULL THEN 'removed'
      |              WHEN a.p <> b.p THEN 'changed'
      |              ELSE 'unchanged' END AS status,
      |         COALESCE(a.k, b.k) AS k
      |  FROM cur a FULL OUTER JOIN prior b ON a.k = b.k)
      |SELECT status, count(*) AS n_keys, CAST(sum(k) AS BIGINT) AS key_sum
      |FROM d GROUP BY status""".stripMargin

  /** Correlated scalar subqueries, decorrelated by Catalyst: orders whose
    * value exceeds 1.5× their customer's average order value. The engine side
    * is deliberately SQL TEXT with two correlated subqueries — Catalyst's
    * RewriteCorrelatedScalarSubquery turns both into ONE aggregate over the
    * orders relation joined back on o_custkey (verify with explain: no
    * per-row subplan execution survives), which is exactly the plan a
    * hand-decorrelated DataFrame formulation would build. The 1.5× compare
    * runs in rational integer form (cents·2·n > 3·Σcents) — no division, no
    * doubles, bit-exact in both engines.
    */
  private def corrSubquerySqlFor(table: String): String =
    s"""WITH ov AS (
      |  SELECT o_custkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM $table)
      |SELECT o_custkey % 100 AS cust_bucket, count(*) AS n_big,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ov o
      |WHERE cents * 2 * (SELECT count(*) FROM ov i WHERE i.o_custkey = o.o_custkey)
      |      > 3 * (SELECT CAST(sum(cents) AS BIGINT) FROM ov i WHERE i.o_custkey = o.o_custkey)
      |GROUP BY 1""".stripMargin

  def corrSubqueryOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders_cs")
    s.sql(corrSubquerySqlFor("orders_cs"))
  }

  /** Nation-pair trade volume (TPC-H Q7-shaped): the 6-way star/snowflake —
    * fact ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ nation — with the date
    * filter pushed to the fact scan. Join strategy is left to AQE: the two
    * nation dims are explicit broadcasts (always tiny), while supplier and
    * customer joins are declared as plain equi-joins — at bench scale AQE
    * converts them to broadcasts, at 100 TB they become shuffle joins on
    * their natural keys with no plan change here. Revenue is the exact
    * decimal discounted price.
    */
  def nationVolume(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        discPrice(col("l_extendedprice"), col("l_discount")).as("rev"),
        year(col("l_shipdate")).as("l_year"))
    val o  = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c  = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val n  = Tables.load(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .join(broadcast(n.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val nationVolumeSql =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |       CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1, 2, 3""".stripMargin

  /** Interval×interval OVERLAP join ([[graft.operators.RangeJoin.joinOverlap]]):
    * concurrent error-activity windows per user — even-id windows joined to
    * overlapping odd-id windows, grid-bucketed so the plan is a plain
    * equi-join on (user, hour-bucket) with a canonical-bucket filter for
    * exactly-once pairs (never a nested loop, never a `distinct()`).
    * Durations are synthesized per event (1 + event_id % 59 minutes) and all
    * arithmetic stays in integer epoch-µs, so overlap sums are engine-exact.
    */
  def intervalOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val minUs = 60L * 1000000L
    val e = Tables.load(s, dir, "events")
      .where(col("event_type") === "error")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + (lit(1L) + col("event_id") % 59L) * minUs).as("e"))
    val l = e.where(col("event_id") % 2 === 0)
    val r = e.where(col("event_id") % 2 === 1)
    val joined = graft.operators.RangeJoin.joinOverlap(
      l, r, "user_id", "s", "e", "s", "e", granularity = 3600L * 1000000L)
    joined
      .select(col("user_id"),
        (least(col("e"), col("e_r")) - greatest(col("s"), col("s_r"))).as("ov"))
      .groupBy((col("user_id") % 20).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("ov")).as("sum_overlap_us"))
  }

  private val intervalOverlapJoinSql =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
      |         epoch_us(CAST(ts AS TIMESTAMP)) + (1 + event_id % 59) * 60 * 1000000 AS en
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT l.user_id, least(l.en, r.en) - greatest(l.s, r.s) AS ov
      |  FROM e l JOIN e r
      |    ON l.user_id = r.user_id AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
      |   AND l.s < r.en AND r.s < l.en)
      |SELECT user_id % 20 AS bucket, count(*) AS n_pairs,
      |       CAST(sum(ov) AS BIGINT) AS sum_overlap_us
      |FROM p GROUP BY 1""".stripMargin

  /** Exact per-group MEDIAN — distributed, histogram-based
    * ([[graft.operators.ExactQuantile]]): task state is bounded by value
    * cardinality, not group row count (the scale-safe exact form; Spark's
    * `percentile(...)` buffers the whole group in one aggregation buffer).
    * Money goes through the lossless cents integerization so the median
    * ELEMENT is bit-identical cross-engine (quantile_disc semantics — an
    * interpolated even-count median would be a derived double instead of a
    * data element).
    */
  /** WEIGHTED quantiles — the survey-statistics form: each line's price
    * counts `l_quantity` times, so the result is the quartile of the
    * per-UNIT price distribution (what "median price paid" means when one
    * line ships 50 units and another 1), not the per-line one
    * `exact_median_groups` reports. Rides the
    * [[graft.operators.ExactQuantile.groupQuantilesDiscWeighted]]
    * composition point with a real weight column instead of a count: ONE
    * (flag, cents) → Σqty histogram shuffle bounded by price-grid
    * cardinality, and the quartile pick is a conditional min over the
    * weight-cumulative histogram. Rank = max(ceil(q·W), 1) on the total
    * weight W — q·W is exact in both engines (q ∈ {1/4, 1/2, 3/4} are
    * power-of-two rationals and W < 2^40), so the gate is bit-strict.
    */
  def weightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag", "cents").agg(sum("qty").as("w"))
    graft.operators.ExactQuantile
      .groupQuantilesDiscWeighted(hist, Seq("l_returnflag"), "cents", "w",
        Seq(0.25, 0.5, 0.75))
      .select(col("l_returnflag"), col("cents_q0").as("wp25_cents"),
        col("cents_q1").as("wmed_cents"), col("cents_q2").as("wp75_cents"),
        col("n").as("total_qty"))
  }

  private val weightedQuantilesSql =
    """WITH h AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, cents,
      |         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
      |  FROM h)
      |SELECT l_returnflag,
      |       min(CASE WHEN cum >= greatest(ceil(tw / 4), 1) THEN cents END) AS wp25_cents,
      |       min(CASE WHEN cum >= greatest(ceil(tw / 2), 1) THEN cents END) AS wmed_cents,
      |       min(CASE WHEN cum >= greatest(ceil(3 * tw / 4), 1) THEN cents END) AS wp75_cents,
      |       max(tw) AS total_qty
      |FROM c GROUP BY 1""".stripMargin

  def exactMedianGroups(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
    val keys = Seq("l_returnflag", "l_linestatus")
    val medPrice = graft.operators.ExactQuantile
      .groupQuantileDisc(li, keys, "cents", 0.5)
      .withColumnRenamed("cents_q", "med_price_cents")
    val medQty = graft.operators.ExactQuantile
      .groupQuantileDisc(li, keys, "qty", 0.5)
      .select(col("l_returnflag"), col("l_linestatus"), col("qty_q").as("med_qty"))
    medPrice.join(medQty, keys)
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("med_price_cents"), col("med_qty"))
  }

  private val exactMedianGroupsSql =
    """SELECT l_returnflag, l_linestatus, count(l_extendedprice) AS n,
      |       quantile_disc(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT), 0.5) AS med_price_cents,
      |       quantile_disc(CAST(l_quantity AS BIGINT), 0.5) AS med_qty
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Robust outlier detection via MAD (median absolute deviation): per-group
    * median, then the median of |x − median|, then |x − median| > 3·MAD
    * counts — everything stays in exact integer cents, so the gate is
    * bit-strict. The robust twin of `a10_outlier_zscore` (moments are
    * skew-sensitive; medians are not).
    *
    * ONE fact scan, ONE fact-sized shuffle: the (group, cents) value
    * histogram is built once and cached (bounded by value cardinality), the
    * median reads it through the weighted-quantile composition point, and
    * the DEVIATION histogram derives from the same relation by key-local
    * arithmetic (|v − med| then re-sum) — so the MAD pass and the outlier
    * count never touch the fact again. The earlier formulation re-scanned
    * and re-shuffled the fact three times for the same answer.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    import graft.operators.ExactQuantile
    // loadSpread: the value histogram barely reduces (cents are near-unique
    // per flag), so the single-task partial aggregate pays the full hash
    // build — spreading parallelizes it for one narrow exchange
    val hist = keep(Tables.loadSpread(s, dir, "lineitem")
      .select(col("l_returnflag"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("cnt")))
    val med = ExactQuantile
      .groupQuantilesDiscWeighted(hist, Seq("l_returnflag"), "cents", "cnt", Seq(0.5))
      .select(col("l_returnflag"), col("cents_q0").as("med"), col("n"))
    // devHist is consumed twice (MAD quantile + final fold) but deliberately
    // NOT cached: both consumers derive it from the hist CACHE with one
    // broadcast join + narrow aggregate, and materializing the ~histogram-
    // sized relation measured SLOWER than the recompute (r14 A/B: warm 2.65
    // → 3.6 s with the cache) — the §5 cache-only-when-recompute-is-dearer
    // rule cuts both ways
    val devHist = hist.join(broadcast(med), "l_returnflag")
      .groupBy(col("l_returnflag"), col("n"), col("med"),
        abs(col("cents") - col("med")).as("dev"))
      .agg(sum("cnt").as("cnt"))
    val mad = ExactQuantile
      .groupQuantilesDiscWeighted(devHist, Seq("l_returnflag"), "dev", "cnt", Seq(0.5))
      .select(col("l_returnflag"), col("dev_q0").as("mad"))
    val out = devHist.join(broadcast(mad), "l_returnflag")
      .groupBy(col("l_returnflag"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("dev") > lit(3L) * col("mad"), col("cnt")).otherwise(0L))
        .as("n_outliers"))
      .select(col("l_returnflag"), col("n"), col("med").as("med_cents"),
        col("mad").as("mad_cents"), col("n_outliers"))
    out
  }

  private val madOutliersSql =
    """WITH c AS (
      |  SELECT l_returnflag AS f,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |med AS (SELECT f, count(*) AS n, quantile_disc(v, 0.5) AS med FROM c GROUP BY f),
      |d AS (SELECT c.f, v, n, med, abs(v - med) AS dev FROM c JOIN med ON c.f = med.f),
      |mad AS (SELECT f, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY f)
      |SELECT d.f AS l_returnflag, n, med AS med_cents, mad.mad AS mad_cents,
      |       CAST(sum(CASE WHEN dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN mad ON d.f = mad.f
      |GROUP BY 1, 2, 3, 4""".stripMargin

  /** Exact equi-depth histogram (8 buckets per group): boundary elements are
    * the 1/8…7/8 discrete quantiles from ONE cardinality-bounded histogram
    * pass ([[graft.operators.ExactQuantile]] — the pinned ceil(q·n) rank
    * rule both engines share), then a second scan assigns each row its
    * bucket by comparing against the BROADCAST boundary row (7 longs per
    * group) and folds to per-bucket count + actual min/max. The optimizer's
    * own statistics primitive, exposed as an operator: everything stays in
    * exact integer cents, so counts, bucket ids and extrema all hash-gate.
    * Ties sit entirely in one bucket (assignment is `v > boundary`, and
    * boundaries are data elements), which is why bucket populations are NOT
    * exactly n/8 — the gate pins that tie behavior too.
    *
    * 100 TB shape: two scans total — the boundary pass shuffles only the
    * (group, value) histogram (bounded by value cardinality), the assign
    * pass is map-side against broadcast boundaries followed by one
    * 40-group aggregate. Never a global sort, never a per-group window
    * over raw rows.
    */
  def histogramEquidepth(s: SparkSession, dir: String): DataFrame = {
    // loadSpread: near-unique cents → the boundary pass's partial aggregate
    // barely reduces, so parallelize it (mad_outliers rationale); the two
    // consumers share one exchange (ReusedExchange — identical subplans)
    val li = Tables.loadSpread(s, dir, "lineitem")
      .select(col("l_returnflag").as("f"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("v"))
      .where(col("v").isNotNull)
    val qs = (1 to 7).map(_ / 8.0)
    val bounds = graft.operators.ExactQuantile.groupQuantilesDisc(li, Seq("f"), "v", qs)
    val bucket = (0 to 6)
      .map(i => when(col("v") > col(s"v_q$i"), 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    li.join(broadcast(bounds.drop("n")), "f")
      .withColumn("bucket", bucket)
      .groupBy(col("f"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min("v").as("lo_cents"), max("v").as("hi_cents"))
      .withColumnRenamed("f", "l_returnflag")
  }

  private val histogramEquidepthSql = {
    val bqs = (1 to 7).map(i => s"quantile_disc(v, 0.${i * 125}) AS b${i - 1}").mkString(", ")
    val sum = (0 to 6).map(i => s"CASE WHEN v > b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH c AS (
      |  SELECT l_returnflag AS f,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |b AS (SELECT f, $bqs FROM c GROUP BY f),
      |a AS (SELECT c.f, v, CAST(1 + $sum AS BIGINT) AS bucket
      |      FROM c JOIN b ON c.f = b.f)
      |SELECT f AS l_returnflag, bucket, count(*) AS n_rows,
      |       min(v) AS lo_cents, max(v) AS hi_cents
      |FROM a GROUP BY 1, 2""".stripMargin
  }

  /** Staleness-BOUNDED as-of: each purchase attributes to the latest view at
    * most 30 minutes before it — the marketing-attribution variant of the
    * as-of join, where an unboundedly old match is wrong, not stale. Shape:
    * views become `[ts, ts+30m)` intervals, the grid point-in-interval join
    * finds all in-window candidates (never a nested loop, hot users split
    * across grid buckets), and a lexicographic struct-max argmax picks the
    * latest (DuckDB needs the row_number emulation — the portable argmax
    * recipe). Purchases with no in-window view drop, like unmatched facts
    * in a strict attribution model.
    */
  /** Supplier scorecard — the procurement-analytics readout over the
    * supplier dimension (the one §1 table no other query profiles
    * end-to-end): per supplier, line/revenue volume in exact cents, the
    * return rate and average discount in integer ppm/bp, part-assortment
    * breadth, and the revenue rank within the supplier's nation (a
    * window over the supplier-sized relation). One fact shuffle on
    * l_suppkey; the 100-row dim broadcasts for labels.
    */
  def supplierScorecard(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val base = li.groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum((dec2(col("l_extendedprice")) * 100).cast("long")).as("revenue_c"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
        sum((col("l_discount").cast("decimal(4,2)") * 10000).cast("long")).as("disc_bp_sum"),
        countDistinct(col("l_partkey")).as("n_parts"))
    val sup = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey").cast("long").as("nation"))
    base.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey").as("suppkey"), col("s_name"), col("nation"),
        col("n_lines"), col("revenue_c"),
        expr("n_returned * 1000000 div n_lines").as("return_ppm"),
        expr("disc_bp_sum div n_lines").as("avg_disc_bp"),
        col("n_parts"))
      .withColumn("nation_rank", row_number().over(
        Window.partitionBy(col("nation"))
          .orderBy(col("revenue_c").desc, col("suppkey"))).cast("long"))
      .orderBy(col("suppkey"))
  }

  private val supplierScorecardSql =
    """WITH base AS (
      |  SELECT l_suppkey AS suppkey,
      |         CAST(count(*) AS BIGINT) AS n_lines,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_c,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
      |         CAST(sum(CAST(CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)) AS BIGINT) AS disc_bp_sum,
      |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      |  FROM lineitem GROUP BY 1)
      |SELECT suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nation,
      |       n_lines, revenue_c,
      |       n_returned * 1000000 // n_lines AS return_ppm,
      |       disc_bp_sum // n_lines AS avg_disc_bp,
      |       n_parts,
      |       CAST(row_number() OVER (PARTITION BY s_nationkey
      |                               ORDER BY revenue_c DESC, suppkey) AS BIGINT) AS nation_rank
      |FROM base JOIN supplier ON suppkey = s_suppkey
      |ORDER BY suppkey""".stripMargin

  /** Region-level year-over-year growth — the geo trend readout every BI
    * deployment leads with: per (region, order-year) revenue in exact
    * cents with the YoY delta in integer ppm (lag window over the
    * region×year relation; first year emits NULL). The snowflake chain
    * broadcasts both dims; the fact shuffles once on its (region, year)
    * grouping grain.
    */
  def regionYoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum((dec2(col("o_totalprice")) * 100).cast("long")).as("revenue_c"))
    rev
      .withColumn("prev_c", lag(col("revenue_c"), 1).over(
        Window.partitionBy(col("r_name")).orderBy(col("yr"))))
      .select(col("r_name"), col("yr"), col("n_orders"), col("revenue_c"),
        expr("""CASE WHEN prev_c > 0 THEN
               |  CAST(floor(CAST(revenue_c - prev_c AS DOUBLE) / prev_c * 1000000) AS BIGINT)
               |END""".stripMargin).as("yoy_ppm"))
      .orderBy(col("r_name"), col("yr"))
  }

  private val regionYoyGrowthSql =
    """WITH rev AS (
      |  SELECT r_name, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
      |         CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_c
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |l AS (
      |  SELECT *, lag(revenue_c) OVER (PARTITION BY r_name ORDER BY yr) AS prev_c
      |  FROM rev)
      |SELECT r_name, yr, n_orders, revenue_c,
      |       CASE WHEN prev_c > 0 THEN
      |         CAST(floor(CAST(revenue_c - prev_c AS DOUBLE) / prev_c * 1000000) AS BIGINT)
      |       END AS yoy_ppm
      |FROM l
      |ORDER BY r_name, yr""".stripMargin

  /** Header-vs-lines aggregate-consistency audit — the cross-table DQ
    * invariant every order system claims (`o_totalprice =
    * Σ extprice·(1−disc)·(1+tax)`) and real data routinely violates: per
    * order, the header total in exact cents against the floor-cents line
    * reconstruction, reported per status as exact-match / within-1% /
    * beyond-1% counts and the worst relative deviation in floor-bp. The
    * referential sibling of [[graft.llm.Governance.riAudit]] (that audits
    * WHICH rows join; this audits whether the joined AMOUNTS agree).
    * One fact shuffle on the order key, then a status-sized accounting.
    */
  def orderTotalAudit(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax")) * 100).cast("long")).as("lines_c"))
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("hdr_c"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("lines_c", coalesce(col("lines_c"), lit(0L)))
      .withColumn("dev_bp",
        expr("""CASE WHEN hdr_c > 0 THEN
               |  CAST(floor(CAST(abs(hdr_c - lines_c) AS DOUBLE) / hdr_c * 10000) AS BIGINT)
               |END""".stripMargin))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("hdr_c") === col("lines_c"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("dev_bp").isNotNull && col("dev_bp") <= 100, 1L).otherwise(0L))
          .as("n_within_1pct"),
        max(col("dev_bp")).as("max_dev_bp"))
      .orderBy(col("o_orderstatus"))
  }

  private val orderTotalAuditSql =
    """WITH lines AS (
      |  SELECT l_orderkey,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS lines_c
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS hdr_c,
      |         coalesce(lines_c, 0) AS lines_c
      |  FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey),
      |d AS (
      |  SELECT o_orderstatus, hdr_c, lines_c,
      |         CASE WHEN hdr_c > 0 THEN
      |           CAST(floor(CAST(abs(hdr_c - lines_c) AS DOUBLE) / hdr_c * 10000) AS BIGINT)
      |         END AS dev_bp
      |  FROM j)
      |SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CASE WHEN hdr_c = lines_c THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |       CAST(sum(CASE WHEN dev_bp IS NOT NULL AND dev_bp <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
      |       CAST(max(dev_bp) AS BIGINT) AS max_dev_bp
      |FROM d GROUP BY 1
      |ORDER BY o_orderstatus""".stripMargin

  /** Customer revenue concentration per nation — the Herfindahl-Hirschman
    * (HHI) readout a sales org reads key-account risk from: per-customer
    * revenue shares in exact integer ppm (DECIMAL-widened cross-product,
    * the money-share overflow discipline), HHI = Σ share² div 1e6 on those
    * integerized shares (a deterministic, portable HHI definition), plus
    * the top customer's share. HHI near 1e6 = one account owns the nation;
    * near 1e6/n = fully diversified. One fact shuffle to the customer
    * grain; windows/aggregates run per nation on the customer relation.
    */
  def customerConcentration(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nation"), col("o_custkey"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("rev_c"))
    val tot = rev.groupBy(col("nation")).agg(sum(col("rev_c")).as("tot_c"))
    rev.join(broadcast(tot), "nation")
      .withColumn("share_ppm",
        expr("CAST(CAST(rev_c AS DECIMAL(38,0)) * 1000000 div tot_c AS BIGINT)"))
      .groupBy(col("nation"))
      .agg(
        count(lit(1)).as("n_customers"),
        max(col("share_ppm")).as("top_share_ppm"),
        expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)").as("hhi_ppm"))
      .orderBy(col("nation"))
  }

  private val customerConcentrationSql =
    """WITH rev AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation, o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT nation, CAST(sum(rev_c) AS BIGINT) AS tot_c FROM rev GROUP BY 1),
      |sh AS (
      |  SELECT rev.nation,
      |         CAST(CAST(rev_c AS HUGEINT) * 1000000 // tot_c AS BIGINT) AS share_ppm
      |  FROM rev JOIN tot ON rev.nation = tot.nation)
      |SELECT nation,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(max(share_ppm) AS BIGINT) AS top_share_ppm,
      |       CAST(CAST(sum(share_ppm * share_ppm) AS BIGINT) // 1000000 AS BIGINT) AS hhi_ppm
      |FROM sh GROUP BY nation
      |ORDER BY nation""".stripMargin

  /** nearest-attribution window (seconds each side) */
  val NearestWinS = 3600L

  /** Bidirectional NEAREST-event join — the attribution semantics neither
    * as-of direction alone expresses: each purchase attaches to its
    * temporally CLOSEST view by the same user within ±[[NearestWinS]]
    * (|Δt| min; tie → the earlier/backward side), found with two window
    * passes over the per-user merged stream — running max of view-times
    * behind, running min ahead — never a range self-join (the nearest
    * view is always one of those two candidates because view times are
    * monotone along the stream). Emits per-direction accounting:
    * backward/forward/none counts with exact lag sums and extremes — the
    * "did the ad view precede or chase the purchase" readout.
    *
    * 100 TB shape: one shuffle on user_id; both window passes sort within
    * user partitions only; output is 3 accounting rows.
    */
  def asofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    val back = ord.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = ord.rowsBetween(1, Window.unboundedFollowing)
    val marked = ev
      .withColumn("prev_view_us",
        max(when(col("event_type") === "view", col("us"))).over(back))
      .withColumn("next_view_us",
        min(when(col("event_type") === "view", col("us"))).over(fwd))
      .where(col("event_type") === "purchase")
      .withColumn("d_back",
        when(col("prev_view_us").isNotNull, col("us") - col("prev_view_us")))
      .withColumn("d_fwd",
        when(col("next_view_us").isNotNull, col("next_view_us") - col("us")))
      .withColumn("direction",
        when(col("d_back").isNotNull && col("d_back") <= lit(NearestWinS * 1000000L) &&
          (col("d_fwd").isNull || col("d_back") <= col("d_fwd") ||
            col("d_fwd") > lit(NearestWinS * 1000000L)), "backward")
          .when(col("d_fwd").isNotNull && col("d_fwd") <= lit(NearestWinS * 1000000L),
            "forward")
          .otherwise(lit("none")))
      .withColumn("lag_s",
        when(col("direction") === "backward", expr("d_back div 1000000"))
          .when(col("direction") === "forward", expr("d_fwd div 1000000")))
    marked.groupBy(col("direction"))
      .agg(
        count(lit(1)).as("n_purchases"),
        coalesce(sum(col("lag_s")), lit(0L)).as("sum_lag_s"),
        coalesce(max(col("lag_s")), lit(0L)).as("max_lag_s"))
      .orderBy(col("direction"))
  }

  private val asofNearestSql =
    s"""WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type
      |  FROM events),
      |m AS (
      |  SELECT *,
      |         max(CASE WHEN event_type = 'view' THEN us END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_us,
      |         min(CASE WHEN event_type = 'view' THEN us END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_view_us
      |  FROM e),
      |p AS (
      |  SELECT us - prev_view_us AS d_back, next_view_us - us AS d_fwd
      |  FROM m WHERE event_type = 'purchase'),
      |cls AS (
      |  SELECT CASE
      |           WHEN d_back IS NOT NULL AND d_back <= ${NearestWinS * 1000000L}
      |                AND (d_fwd IS NULL OR d_back <= d_fwd
      |                     OR d_fwd > ${NearestWinS * 1000000L}) THEN 'backward'
      |           WHEN d_fwd IS NOT NULL AND d_fwd <= ${NearestWinS * 1000000L} THEN 'forward'
      |           ELSE 'none' END AS direction,
      |         d_back, d_fwd
      |  FROM p)
      |SELECT direction,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(coalesce(sum(CASE WHEN direction = 'backward' THEN d_back // 1000000
      |                              WHEN direction = 'forward' THEN d_fwd // 1000000 END), 0)
      |            AS BIGINT) AS sum_lag_s,
      |       CAST(coalesce(max(CASE WHEN direction = 'backward' THEN d_back // 1000000
      |                              WHEN direction = 'forward' THEN d_fwd // 1000000 END), 0)
      |            AS BIGINT) AS max_lag_s
      |FROM cls GROUP BY direction
      |ORDER BY direction""".stripMargin

  def asofBoundedAttribution(s: SparkSession, dir: String): DataFrame = {
    val us30m = 1800L * 1000000L
    val ev = Tables.load(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_us"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        unix_micros(col("ts")).as("v_us"))
      .withColumn("v_end", col("v_us") + us30m)
    graft.operators.RangeJoin
      .joinPointInInterval(purchases, views, "user_id",
        pointCol = "p_us", startCol = "v_us", endCol = "v_end",
        granularity = us30m)
      .groupBy("p_id")
      .agg(
        max(struct(col("v_us"), col("v_id"))).as("best"),
        count(lit(1)).as("n_candidates"))
      .select(col("p_id"), col("best.v_id").as("attributed_view"),
        col("n_candidates"))
  }

  private val asofBoundedAttributionSql =
    """WITH p AS (
      |  SELECT user_id, event_id AS p_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, event_id AS v_id, epoch_us(CAST(ts AS TIMESTAMP)) AS v_us
      |  FROM events WHERE event_type = 'view'),
      |j AS (
      |  SELECT p_id, v_id, v_us
      |  FROM p JOIN v ON p.user_id = v.user_id
      |   AND v_us <= p_us AND p_us < v_us + 1800000000),
      |r AS (
      |  SELECT p_id, v_id,
      |         count(*) OVER (PARTITION BY p_id) AS n_candidates,
      |         row_number() OVER (PARTITION BY p_id ORDER BY v_us DESC, v_id DESC) AS rn
      |  FROM j)
      |SELECT p_id, v_id AS attributed_view, CAST(n_candidates AS BIGINT) AS n_candidates
      |FROM r WHERE rn = 1""".stripMargin

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other — the semantics CDC reconciliation and dim lookups with
    * optional keys need, and a silent-wrong-answer trap when a plain `=`
    * drops the null bucket. Both sides AGGREGATE to per-key counts first:
    * null-safe joining raw rows would cross-multiply the two null
    * populations (n_a·n_b rows for one key); count-then-join is the
    * scale-correct shape and exercises the same equality semantics.
    */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(s, dir, "orders")
      .select(when(col("o_orderkey") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey") % 50).as("ka"))
      .groupBy("ka").agg(count(lit(1)).as("n_a"))
    val b = Tables.load(s, dir, "customer")
      .select(when(col("c_custkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("c_custkey") % 50).as("kb"))
      .groupBy("kb").agg(count(lit(1)).as("n_b"))
    a.join(b, col("ka") <=> col("kb"))
      .select(coalesce(col("ka").cast("string"), lit("(null)")).as("key"),
        col("n_a"), col("n_b"))
  }

  private val nullSafeJoinSql =
    """WITH a AS (
      |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey % 50 END AS ka,
      |         count(*) AS n_a
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey % 50 END AS kb,
      |         count(*) AS n_b
      |  FROM customer GROUP BY 1)
      |SELECT coalesce(CAST(ka AS VARCHAR), '(null)') AS key, n_a, n_b
      |FROM a JOIN b ON ka IS NOT DISTINCT FROM kb""".stripMargin

  /** Q12-shaped shipping-priority matrix: fact ⋈ orders with the date-range
    * filter pushed to the fact scan and the priority split as conditional
    * aggregates (CASE inside SUM — one pass, no pivot shuffle). The classic
    * "join then bucket-count" warehouse report.
    */
  def shipmodePriority(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), (col("l_quantity") > 25).as("heavy"))
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("heavy"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
  }

  private val shipmodePrioritySql =
    """SELECT l_quantity > 25 AS heavy,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1""".stripMargin

  /** Q19-shaped disjunctive-predicate revenue: three OR-branches mixing join
    * and scan columns. What's under test is the PLAN: Catalyst must extract
    * the branch-common conjuncts (quantity floor, brand membership) and push
    * them into both scans even though the full predicate is a disjunction —
    * `.explain` shows PushedFilters on l_quantity and p_brand, so the scan
    * prunes before the join instead of evaluating the OR over the full
    * join product.
    */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val p = Tables.load(s, dir, "part").select("p_partkey", "p_brand", "p_size")
    val joined = li.join(p, col("l_partkey") === col("p_partkey"))
    val branch1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    joined.where(branch1 || branch2 || branch3)
      .agg(
        sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val disjunctiveRevenueSql =
    s"""SELECT CAST(sum($discPriceSql) AS DOUBLE) AS revenue, count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Catalog profile — the INFORMATION_SCHEMA-style overview a warehouse
    * exposes: one row per table with row and column counts. Each branch is a
    * scan-adjacent count (parquet footer metadata at scan level), unioned;
    * column counts come from the resolved schema, not data. The oracle pins
    * the same inventory, so a loader regression (dropped column, misread
    * table) flips the gate.
    */
  def catalogProfile(s: SparkSession, dir: String): DataFrame = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.map { t =>
      val df = Tables.load(s, dir, t)
      // GLOBAL aggregate, not groupBy(lit(t)): a grouped agg over an empty
      // table yields zero rows, while the oracle's UNION ALL always emits
      // one row with count 0 — the global form agrees in both cases
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"),
          lit(df.columns.length).as("n_cols"))
    }.reduce(_ unionByName _)
  }

  private val catalogProfileSql =
    """SELECT 'region' AS table_name, count(*) AS n_rows, 2 AS n_cols FROM region
      |UNION ALL SELECT 'nation', count(*), 3 FROM nation
      |UNION ALL SELECT 'customer', count(*), 5 FROM customer
      |UNION ALL SELECT 'supplier', count(*), 4 FROM supplier
      |UNION ALL SELECT 'part', count(*), 6 FROM part
      |UNION ALL SELECT 'orders', count(*), 6 FROM orders
      |UNION ALL SELECT 'lineitem', count(*), 11 FROM lineitem
      |UNION ALL SELECT 'events', count(*), 6 FROM events
      |UNION ALL SELECT 'documents', count(*), 5 FROM documents
      |UNION ALL SELECT 'embeddings', count(*), 3 FROM embeddings""".stripMargin

  /** Order-independent table fingerprint for replica/migration
    * reconciliation: each row canonicalizes to a delimited string of exact
    * fields (integers, cents, formatted dates — never raw doubles), hashes
    * through the portable md5→two-bigint-halves recipe, and the halves SUM
    * per key bucket — sums commute, so two tables compare equal iff their
    * row multisets match per bucket, with no sort and one aggregate over
    * each replica. Bucketing by key range localizes a mismatch to 1/16 of
    * the table before any row-level diff (the cheap precursor to
    * [[tableDiff]]'s full outer join).
    */
  def tableFingerprint(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val canon = concat_ws("|",
      col("o_orderkey"), col("o_custkey"),
      (dec2(col("o_totalprice")) * 100).cast("long"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"),
      col("o_orderstatus"))
    val h = md5(canon.cast("binary"))
    o.select((col("o_orderkey") % 16).as("bucket"),
      Portable.hexInt(h).as("h1"),
      Portable.hexInt(h, 9).as("h2"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum("h1").as("sum_h1"), sum("h2").as("sum_h2"))
  }

  private val tableFingerprintSql =
    s"""WITH c AS (
      |  SELECT o_orderkey % 16 AS bucket,
      |         md5(concat_ws('|', o_orderkey, o_custkey,
      |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),
      |             strftime(o_orderdate, '%Y-%m-%d'), o_orderstatus)) AS h
      |  FROM orders)
      |SELECT bucket, count(*) AS n_rows,
      |       CAST(sum(${Portable.hexIntSql("h")}) AS BIGINT) AS sum_h1,
      |       CAST(sum(${Portable.hexIntSql("h", "9")}) AS BIGINT) AS sum_h2
      |FROM c GROUP BY bucket""".stripMargin

  /** Per-group top-k through the BOUNDED-STATE aggregate
    * ([[graft.operators.TopKAgg]]): O(k) task state per group and ≤ k rows
    * per group leave each map task (partial aggregation), vs the window
    * formulation that sorts every row of a group in one task — the
    * difference between a plan that survives a low-cardinality group column
    * at 100 TB and one that doesn't. Ranked output re-derives positions via
    * posexplode over the (already sorted) top array.
    */
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val topk3 = udaf(new graft.operators.TopKAgg(3))
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"),
        col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(topk3(col("cents"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("o_orderkey"), col("col.v").as("cents"))
  }

  private val topkPerGroupSql =
    """WITH o AS (
      |  SELECT o_orderpriority,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
      |                               ORDER BY cents DESC, o_orderkey) AS rank
      |  FROM o)
      |SELECT o_orderpriority, rank, o_orderkey, cents FROM r WHERE rank <= 3""".stripMargin

  /** Winsorized statistics: clip each group's values to its exact [p01, p99]
    * before aggregating — the standard tail-robust preprocessing for model
    * features. Both cut points come from the histogram quantile
    * ([[graft.operators.ExactQuantile]], one pass for both via two calls that
    * share the scan), clipping is a codegen `least/greatest`, and everything
    * stays in integer cents.
    */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    // ONE fact scan: both the quantile cuts AND the clipped aggregate fold
    // from the same (flag, cents) histogram — the r13 shape scanned the
    // fact twice (once inside groupQuantilesDisc, once to clip raw rows).
    // Weighted sums over the histogram are the identical exact longs, just
    // grouped before multiplying by the count. Spread: near-unique cents
    // mean the partial aggregate barely reduces (mad_outliers rationale).
    val hist = keep(Tables.loadSpread(s, dir, "lineitem")
      .select(col("l_returnflag"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .where(col("cents").isNotNull)
      .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("cnt")))
    val cuts = graft.operators.ExactQuantile
      .groupQuantilesDiscWeighted(hist, Seq("l_returnflag"), "cents", "cnt",
        Seq(0.01, 0.99))
      .select(col("l_returnflag"), col("cents_q0").as("p01"),
        col("cents_q1").as("p99"), col("n"))
    val out = hist.join(broadcast(cuts), "l_returnflag")
      .groupBy(col("l_returnflag"), col("n"), col("p01"), col("p99"))
      .agg(
        sum(least(greatest(col("cents"), col("p01")), col("p99")) * col("cnt"))
          .as("sum_clipped"),
        sum(when(col("cents") < col("p01"), col("cnt")).otherwise(0L)).as("n_clip_low"),
        sum(when(col("cents") > col("p99"), col("cnt")).otherwise(0L)).as("n_clip_high"))
    out
  }

  private val winsorizedStatsSql =
    """WITH c AS (
      |  SELECT l_returnflag AS f,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |q AS (SELECT f, count(*) AS n, quantile_disc(v, 0.01) AS p01,
      |             quantile_disc(v, 0.99) AS p99
      |      FROM c GROUP BY f)
      |SELECT c.f AS l_returnflag, n, p01, p99,
      |       CAST(sum(least(greatest(v, p01), p99)) AS BIGINT) AS sum_clipped,
      |       CAST(sum(CASE WHEN v < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
      |       CAST(sum(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high
      |FROM c JOIN q ON c.f = q.f
      |GROUP BY 1, 2, 3, 4""".stripMargin

  /** Ratio-to-report: each nation's revenue share within its region, as
    * integer parts-per-million over the exact cents totals. The window runs
    * over the POST-AGGREGATE relation (25 rows), so the "share of total"
    * reshuffle that is quadratic-prone on raw facts costs nothing — compute
    * the small thing, then window the small thing.
    */
  def shareOfTotal(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("cents"))
    rev
      .withColumn("region_cents",
        sum("cents").over(Window.partitionBy("r_name")))
      .select(col("r_name"), col("n_name"), col("cents"),
        expr("cents * 1000000 div region_cents").as("share_ppm"))
  }

  private val shareOfTotalSql =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, cents,
      |       CAST((cents * 1000000) // sum(cents) OVER (PARTITION BY r_name) AS BIGINT) AS share_ppm
      |FROM rev""".stripMargin

  /** Skyline (Pareto-front) preference query: parts that no other part
    * dominates on (lower best price, higher total demand) — the classic
    * multi-criteria shortlist operator (Börzsönyi et al.'s SKYLINE OF).
    *
    * Plan shape: the FACT-scale work is one (partkey) hash aggregate; the
    * skyline itself runs on the part-level relation (dimension-sized) with
    * the sort-filter formulation — two window maxima instead of the O(n²)
    * dominance join: a point is dominated iff a strictly-cheaper point
    * reaches its quantity (RANGE-frame running max) or an equal-cost point
    * strictly exceeds it (cost-partition max). The ORACLE deliberately uses
    * the textbook NOT EXISTS dominance test instead — two independent
    * formulations must agree row-for-row, which is what the hash gate
    * checks. Costs are exact cents; everything integer.
    */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val pp = li.groupBy(col("l_partkey"))
      .agg(
        min(floor(col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long"))
          .as("cost_cents"),
        sum(col("l_quantity").cast("long")).as("total_qty"))
    val cheaper = Window.orderBy(col("cost_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val sameCost = Window.partitionBy(col("cost_cents"))
    pp.withColumn("m_cheaper", max(col("total_qty")).over(cheaper))
      .withColumn("m_same", max(col("total_qty")).over(sameCost))
      .where((col("m_cheaper").isNull || col("m_cheaper") < col("total_qty")) &&
        col("m_same") <= col("total_qty"))
      .select(col("l_partkey"), col("cost_cents"), col("total_qty"))
  }

  private val skylinePartsSql =
    """WITH pp AS (
      |  SELECT l_partkey,
      |         CAST(min(floor(CAST(l_extendedprice AS DECIMAL(12,2)) * 100)) AS BIGINT) AS cost_cents,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, cost_cents, total_qty
      |FROM pp p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pp q
      |  WHERE q.cost_cents <= p.cost_cents AND q.total_qty >= p.total_qty
      |    AND (q.cost_cents < p.cost_cents OR q.total_qty > p.total_qty))""".stripMargin

  /** sample size for [[sampledQuantiles]]; rank error ~ 1/sqrt(S) */
  val SampleK = 512

  /** ENGINE-PORTABLE approximate quantiles — the [[PortableSketch]] trick
    * applied to order statistics: the "sketch" is the [[SampleK]] rows with
    * the smallest md5 row-key hashes (a deterministic uniform sample both
    * engines reproduce bit-for-bit), and the estimate is the EXACT
    * quantile of that sample under the pinned `ceil(q·n)` rank rule. Unlike
    * `approx_quantiles` (engine-specific KLL/t-digest internals → forever
    * `no_oracle`), every estimated value here hash-gates cross-engine.
    * Exact full-relation quantiles ride alongside for the error reading.
    *
    * Scale: the sample is a bounded-state mergeable [[graft.operators.TopKAgg]]
    * per group (≤ S entries per task, map-side combined — no per-group sort
    * of the full data); the exact companion pays the usual value-histogram
    * pass and is what a production sketch-only run drops.
    */
  def sampledQuantiles(s: SparkSession, dir: String): DataFrame = {
    val Qs = Seq(0.25, 0.5, 0.75, 0.99)
    val base = Tables.loadSpread(s, dir, "lineitem").select(
      col("l_returnflag").as("flag"),
      floor(col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
      Portable.md5Int(concat_ws(":", col("l_orderkey"), col("l_linenumber")), 13).as("h"))
    val topk = udaf(new graft.operators.TopKAgg(SampleK))
    val sample = base.groupBy("flag").agg(topk(-col("h"), col("cents")).as("sk"))
      .select(col("flag"), explode(col("sk")).as("it"))
      .select(col("flag"), col("it.id").as("cents"))
    def named(df: DataFrame, prefix: String, nName: String) =
      graft.operators.ExactQuantile.groupQuantilesDisc(df, Seq("flag"), "cents", Qs)
        .select(col("flag") +: Qs.indices.map(i =>
          col(s"cents_q$i").as(s"${prefix}_p${(Qs(i) * 100).toInt}")) :+
          col("n").as(nName): _*)
    named(sample, "est", "n_sample")
      .join(named(base.select("flag", "cents"), "exact", "n_rows"), "flag")
  }

  private val sampledQuantilesSql = {
    def qcols(src: String, prefix: String, nName: String) =
      s"""SELECT flag,
        |       quantile_disc(cents, 0.25) AS ${prefix}_p25,
        |       quantile_disc(cents, 0.5) AS ${prefix}_p50,
        |       quantile_disc(cents, 0.75) AS ${prefix}_p75,
        |       quantile_disc(cents, 0.99) AS ${prefix}_p99,
        |       count(*) AS $nName
        |FROM $src GROUP BY flag""".stripMargin
    s"""WITH base AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents,
      |         ${Portable.md5IntSql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)", 13)} AS h
      |  FROM lineitem),
      |samp AS (
      |  SELECT flag, cents FROM (
      |    SELECT flag, cents,
      |           row_number() OVER (PARTITION BY flag ORDER BY h, cents) AS rn
      |    FROM base)
      |  WHERE rn <= $SampleK),
      |est AS (${qcols("samp", "est", "n_sample")}),
      |exact AS (${qcols("base", "exact", "n_rows")})
      |SELECT flag, est_p25, est_p50, est_p75, est_p99, n_sample,
      |       exact_p25, exact_p50, exact_p75, exact_p99, n_rows
      |FROM est JOIN exact USING (flag)""".stripMargin
  }

  /** target PPS sample size for [[ppsHtEstimate]] */
  val PpsK = 200L

  /** fixed-point denominator of the PPS inclusion probabilities (2^20) */
  val PpsFp = 1L << 20

  /** Survey-sampling estimation: a deterministic Poisson-PPS sample of
    * orders (inclusion probability ∝ order value, the size-biased design
    * that minimizes variance for estimating a TOTAL of the same measure)
    * with the Horvitz-Thompson estimator read back against the exact truth.
    * Inclusion probabilities are exact rationals floored to a 2^20
    * fixed-point threshold `thr = min(2^20, k·w·2^20 div W)`; a unit is
    * sampled iff its md5-uniform draw < thr, and the HT term divides by THE
    * SAME floored probability (`x·2^20·1000 div thr`, integer milli-cents)
    * — so the estimator is unbiased w.r.t. the probabilities actually used
    * and every number in the readout is integer-exact. High-value
    * "certainty units" (π = 1) are always included, the classic PPS cutoff
    * property. The one-row audit a sampling pipeline ships alongside any
    * estimate: population, truth, sample size, estimate, error.
    *
    * 100 TB shape: one partial-aggregate pass for (W, N), one broadcast,
    * one conditional-aggregate scan — membership is a pure hash of the key,
    * stable under retries. (The u·W < k·w·2^20 comparison is pre-divided by
    * W so intermediates stay in int64; at petabyte W the same floored
    * threshold form keeps working — magnitudes only shrink.)
    */
  def ppsHtEstimate(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .where(col("cents") > 0)
    val tot = od.agg(sum(col("cents")).as("w_tot"), count(lit(1)).as("n_pop"))
    od.crossJoin(broadcast(tot))
      .withColumn("thr",
        least(lit(PpsFp), expr(s"($PpsK * cents * $PpsFp) div w_tot")))
      .withColumn("u",
        Portable.md5Int(col("o_orderkey").cast("string").cast("binary")) % PpsFp)
      .agg(
        max(col("n_pop")).as("n_pop"),
        max(col("w_tot")).as("true_total_c"),
        lit(PpsK).as("k_target"),
        sum(when(col("u") < col("thr"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("thr") === PpsFp, 1L).otherwise(0L)).as("n_certainty"),
        sum(when(col("u") < col("thr"),
          expr(s"(cents * $PpsFp * 1000) div thr")).otherwise(0L)).as("ht_milli_c"))
      .withColumn("err_ppm",
        floor(abs(col("ht_milli_c") - col("true_total_c") * 1000L).cast("double")
          / (col("true_total_c") * 1000L) * 1000000L).cast("long"))
  }

  private val ppsHtEstimateSql =
    s"""WITH od AS (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
      |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS w_tot,
      |               CAST(count(*) AS BIGINT) AS n_pop FROM od),
      |drawn AS (
      |  SELECT cents,
      |         least($PpsFp, ($PpsK * cents * $PpsFp) // w_tot) AS thr,
      |         ${Portable.md5IntSql("CAST(o_orderkey AS VARCHAR)")} % $PpsFp AS u,
      |         w_tot, n_pop
      |  FROM od CROSS JOIN tot),
      |agg AS (
      |  SELECT CAST(max(n_pop) AS BIGINT) AS n_pop,
      |         CAST(max(w_tot) AS BIGINT) AS true_total_c,
      |         CAST($PpsK AS BIGINT) AS k_target,
      |         CAST(sum(CASE WHEN u < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |         CAST(sum(CASE WHEN thr = $PpsFp THEN 1 ELSE 0 END) AS BIGINT) AS n_certainty,
      |         CAST(sum(CASE WHEN u < thr THEN (cents * $PpsFp * 1000) // thr ELSE 0 END) AS BIGINT) AS ht_milli_c
      |  FROM drawn)
      |SELECT *,
      |       CAST(floor(CAST(abs(ht_milli_c - true_total_c * 1000) AS DOUBLE)
      |                  / (true_total_c * 1000) * 1000000) AS BIGINT) AS err_ppm
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------------------
  // Hopping (sliding) window aggregate — the batch twin of a streaming
  // hopping-window TVF
  // ---------------------------------------------------------------------------

  /** Hopping-window event aggregate: 1-hour windows sliding every 15 minutes
    * via Spark's native `window(ts, windowDuration, slideDuration)` TVF —
    * each event lands in exactly windowDuration/slideDuration = 4 windows
    * (Spark materializes them with an internal Expand, the same multiplicity
    * the oracle replays with an explicit 4-offset unnest). Windows are
    * epoch-anchored in both engines, so window starts agree exactly; the
    * start is emitted as epoch MICROSECONDS (integer — never a raw
    * TIMESTAMP column, per the oracle invariants) and the value sum in the
    * floor-milli integer space.
    *
    * 100 TB shape: one Expand (×4 rows, no shuffle) then a single hash
    * aggregate keyed on the window start — partial aggregation absorbs the
    * ×4 blow-up map-side, so the shuffle carries only per-window partials
    * (window-count-bounded, not event-count-bounded).
    */
  def hoppingWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1000)).cast("long")).as("value_milli"))
      .select(
        unix_micros(col("w.start")).as("win_start_us"),
        col("n_events"), col("value_milli"))
  }

  private val hoppingWindowAggSql =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us,
      |         CAST(floor(value * 1000) AS BIGINT) AS vm
      |  FROM events),
      |w AS (
      |  SELECT (us // 900000000) * 900000000 - k * 900000000 AS win_start_us, vm
      |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS k) ks)
      |SELECT win_start_us,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(vm) AS BIGINT) AS value_milli
      |FROM w GROUP BY 1""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("hopping_window_agg", hoppingWindowAgg, Some(hoppingWindowAggSql)),
    Q("pps_ht_estimate", ppsHtEstimate, Some(ppsHtEstimateSql)),
    Q("sampled_quantiles", sampledQuantiles, Some(sampledQuantilesSql)),
    Q("skyline_parts", skylineParts, Some(skylinePartsSql)),
    Q("topk_per_group", topkPerGroup, Some(topkPerGroupSql)),
    Q("table_fingerprint", tableFingerprint, Some(tableFingerprintSql)),
    Q("catalog_profile", catalogProfile, Some(catalogProfileSql)),
    Q("q12_shipmode_priority", shipmodePriority, Some(shipmodePrioritySql)),
    Q("null_safe_join", nullSafeJoin, Some(nullSafeJoinSql)),
    Q("asof_bounded_attribution", asofBoundedAttribution, Some(asofBoundedAttributionSql)),
    Q("asof_nearest", asofNearest, Some(asofNearestSql)),
    Q("supplier_scorecard", supplierScorecard, Some(supplierScorecardSql)),
    Q("region_yoy_growth", regionYoyGrowth, Some(regionYoyGrowthSql)),
    Q("order_total_audit", orderTotalAudit, Some(orderTotalAuditSql)),
    Q("customer_concentration", customerConcentration, Some(customerConcentrationSql)),
    Q("q19_disjunctive_revenue", disjunctiveRevenue, Some(disjunctiveRevenueSql)),
    Q("winsorized_stats", winsorizedStats, Some(winsorizedStatsSql)),
    Q("share_of_total", shareOfTotal, Some(shareOfTotalSql)),
    Q("exact_median_groups", exactMedianGroups, Some(exactMedianGroupsSql)),
    Q("weighted_quantiles", weightedQuantiles, Some(weightedQuantilesSql)),
    Q("mad_outliers", madOutliers, Some(madOutliersSql)),
    Q("histogram_equidepth", histogramEquidepth, Some(histogramEquidepthSql)),
    Q("window_rank_family", windowRankFamily, Some(windowRankFamilySql)),
    Q("median_cont", medianCont, Some(medianContSql)),
    Q("interval_overlap_join", intervalOverlapJoin, Some(intervalOverlapJoinSql)),
    Q("corr_subquery_orders", corrSubqueryOrders, Some(corrSubquerySqlFor("orders"))),
    Q("q7_nation_volume", nationVolume, Some(nationVolumeSql)),
    Q("table_diff", tableDiff, Some(tableDiffSql)),
    Q("q1_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    Q("q3_topk_revenue", topkRevenue, Some(topkRevenueSql)),
    Q("q5_regional_revenue", regionalRevenue, Some(regionalRevenueSql)),
    Q("rollup_pricing", rollupPricing, Some(rollupPricingSql)),
    Q("window_running_spend", runningSpend, Some(runningSpendSql)),
    Q("window_trailing_spend", trailingSpend, Some(trailingSpendSql)),
    Q("distinct_customers", distinctCustomers, Some(distinctCustomersSql)),
    Q("setop_repeat_buyers", repeatBuyers, Some(repeatBuyersSql)),
    Q("setop_lapsed_buyers", lapsedBuyers, Some(lapsedBuyersSql)),
    Q("hll_approx_distinct", hllDistinctAudit, Some(hllDistinctAuditSql)),
    Q("approx_quantiles", approxQuantiles, Some(approxQuantilesSql)),
    Q("cube_pricing", cubePricing, Some(cubePricingSql)),
    Q("grouping_sets_pricing", groupingSets, Some(groupingSetsSql)),
    Q("window_spend_quartiles", spendQuartiles, Some(spendQuartilesSql)),
    Q("asof_click_purchase", asofClickPurchase, Some(asofClickPurchaseSql)),
    Q("asof_native_exec", asofNativeExec, Some(asofNativeExecSql)),
    Q("asof_native_tolerance", asofNativeTolerance, Some(asofNativeToleranceSql)),
    Q("asof_native_forward", asofNativeForward, Some(asofNativeForwardSql)),
    Q("skew_salted_join", skewJoin, Some(skewJoinSql)),
    Q("range_join_clicks", rangeJoinClicks, Some(rangeJoinClicksSql)),
    Q("merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    Q("semi_anti_parts", semiAntiParts, Some(semiAntiPartsSql)),
    Q("bloom_prune_join", bloomPruneJoin, Some(bloomPruneJoinSql)),
    Q("skew_profile", skewProfile, Some(skewProfileSql)),
    Q("props_extract", propsExtract, Some(propsExtractSql)),
    Q("profile_orders", profileOrders, Some(profileOrdersSql)),
    Q("profile_orders_approx", profileOrdersApproxAudit, Some(profileOrdersApproxAuditSql)),
    Q("hist_price", histPrice, Some(histPriceSql)),
    Q("pivot_status", pivotStatus, Some(pivotStatusSql)),
    Q("unpivot_status", unpivotStatus, Some(unpivotStatusSql)))
}
