package graft.analytics

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remaining classic TPC-H query shapes expressible over the driver's
  * star schema (no partsupp table, no comment/commitdate columns — those
  * predicates are adapted to the columns that exist; "late" means shipped
  * more than a fixed lag after the order date). Like the rest of the
  * warehouse surface the reference delegates this entirely to ClickHouse
  * (SURVEY.md §2.6), so these are engine-completeness queries: each one
  * pins a distinct plan pattern the earlier packs don't —
  *
  *   - q2:  aggregate-then-join-back min-cost match over a DERIVED
  *          partsupp (no partsupp table in the driver schema — one
  *          (l_partkey, l_suppkey) aggregate over lineitem stands in)
  *   - q4:  EXISTS rewritten as a left-semi join with a non-equi residual
  *   - q6:  filter-only scan, every predicate pushed, no join at all
  *   - q8:  share-of-market conditional aggregation over the widest
  *          (8-relation) broadcast star join in the registry
  *   - q9:  profit decomposition — fact ⋈ derived-partsupp composite-key
  *          join, integer-scaled (e4) exact money sums per nation-year
  *   - q10: fact→dim star join with a top-k on an exact decimal aggregate
  *   - q11: scalar-subquery threshold over integer-scaled stock value
  *          (1-row aggregate broadcast back, exact BIGINT comparison)
  *   - q13: outer join preserving empty groups, then an agg-of-agg histogram
  *   - q14: conditional aggregation share (CASE inside sum, no ELSE)
  *   - q15: argmax over an aggregated view via a broadcast 1-row max
  *   - q16: distinct-count buckets + broadcast anti join exclusion list
  *          (single distinct agg → two-level HashAggregate, no Expand)
  *   - q17: correlated per-group threshold (avg) joined back to the facts
  *   - q18: HAVING-gated group keys semi-driving a wider join
  *   - q20: two-granularity quantity comparison (all-time vs windowed
  *          sums on the same composite key) semi-driving the supplier dim
  *   - q21: semi + anti SELF-joins on the same fact relation
  *   - q22: scalar-subquery threshold + anti join against recent activity
  *
  * Money math follows the pack-wide DECIMAL discipline (Relational.scala):
  * exact fixed-point sums, ONE final cast to double both engines round
  * identically. Derived thresholds (q17's fifth-of-average, q22's mean
  * positive balance) are a single IEEE division of exact operands, so the
  * comparison classifies rows identically in Spark and DuckDB.
  *
  * 100 TB shape: every query shuffles the fact table at most once on its
  * natural key (l_orderkey / o_custkey / l_partkey); all dimension sides
  * broadcast; the self-joins in q21 co-partition on l_orderkey so the
  * probe never re-shuffles; q13/q17 aggregate before joining back, so the
  * second pass moves group-sized, not fact-sized, data.
  */
object TpchShapes extends QueryPack {

  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  private def rate(c: Column): Column = c.cast("decimal(3,2)")
  private val oneRate = lit(1).cast("decimal(3,2)")
  private def discPrice(price: Column, disc: Column): Column =
    (dec2(price) * (oneRate - rate(disc))).cast("decimal(18,4)")
  private val discPriceSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))"

  /** Q4: order-priority checking — orders in a 6-month window with at
    * least one line shipped more than 60 days after the order date.
    * EXISTS plans as a left-semi join: the fact side shuffles once on
    * l_orderkey, the residual (l_shipdate > o_orderdate + 60d) stays a
    * non-equi condition inside the semi join, and no lineitem column
    * survives into the aggregate.
    */
  def orderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  private val orderPrioritySql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Q6: forecast-revenue change — one filter-only scan, no join, no group.
    * All three predicates (ship-year, discount band, quantity cap) push to
    * the parquet scan, so the whole query is scan → partial agg → 1-row
    * final agg: the cheapest possible shape at 100 TB, and the canonical
    * pushdown pin. The discount band bounds are spelled `5/100`-style int
    * divisions (one correctly-rounded IEEE op in both engines — a `0.05`
    * literal would parse as DECIMAL in DuckDB and compare differently).
    */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= lit(5) / lit(100) &&
        col("l_discount") <= lit(7) / lit(100) &&
        col("l_quantity") < 24)
      .agg(
        sum((dec2(col("l_extendedprice")) * rate(col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  private val forecastRevenueSql =
    """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 5 / 100 AND l_discount <= 7 / 100
      |  AND l_quantity < 24""".stripMargin

  /** Q8: national market share — of all PROMO-part revenue sold into the
    * ASIA customer market, the share supplied by NATION_7's suppliers, per
    * order year. The widest join tree in the registry (lineitem × part ×
    * orders × customer × nation × region × supplier × nation): the fact
    * shuffles ONCE on l_orderkey for the orders join; every other side is
    * a broadcast dim, including customer (dim-sized in this schema; at
    * true TPC-H scale customer would instead pre-bucket with orders on
    * custkey). Share = CASE-sum / sum, two exact decimal sums and one
    * IEEE division, the q14 discipline.
    */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val promo = Tables.load(s, dir, "part")
      .where(col("p_type") === "PROMO").select("p_partkey")
    val ord = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val asiaNat = Tables.load(s, dir, "nation")
      .join(broadcast(Tables.load(s, dir, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("mkt_nationkey"))
    val supp = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val dp = discPrice(col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNat), col("c_nationkey") === col("mkt_nationkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_7", dp)).cast("double").as("nation_revenue"),
        sum(dp).cast("double").as("total_revenue"))
      .withColumn("mkt_share", col("nation_revenue") / col("total_revenue"))
  }

  private val marketShareSql =
    s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |       CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN $discPriceSql END) AS DOUBLE) AS nation_revenue,
      |       CAST(sum($discPriceSql) AS DOUBLE) AS total_revenue,
      |       CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN $discPriceSql END) AS DOUBLE)
      |         / CAST(sum($discPriceSql) AS DOUBLE) AS mkt_share
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
      |GROUP BY 1""".stripMargin

  /** Q10: returned-item revenue — top 20 customers by exact revenue of
    * 'R'-flagged lines on orders placed in one quarter. Fact shuffles once
    * on l_orderkey; customer and nation broadcast; the top-k orders on the
    * decimal-exact revenue with c_custkey breaking ties.
    */
  def returnedRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.load(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name").as("nation"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
  }

  private val returnedRevenueSql =
    s"""SELECT c_custkey, c_name,
      |       CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
      |       c_acctbal, n_name AS nation
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Q13: customer order-count distribution — LEFT join so never-ordered
    * customers survive as count 0, per-customer counts, then the histogram
    * of those counts. The priority exclusion stands in for Q13's comment
    * filter and is applied to the orders side BEFORE the join (predicate
    * only references the preserved-null side's partner, so pre-filtering
    * is equivalent and keeps the outer join's build side small).
    */
  def orderCountDistribution(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer").select("c_custkey")
    val ord = Tables.load(s, dir, "orders")
      .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  private val orderCountDistributionSql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer
      |      LEFT JOIN orders ON c_custkey = o_custkey
      |                      AND o_orderpriority <> '4-NOT SPECIFIED'
      |      GROUP BY c_custkey) t
      |GROUP BY c_count""".stripMargin

  /** Q14: promo revenue share over one ship-month. Conditional sum with an
    * ELSE-less CASE (both engines skip non-matching rows identically); the
    * share is (exact-decimal → double) / (exact-decimal → double) * 100 —
    * the same two correctly-rounded IEEE ops in both engines.
    */
  def promoShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val part = Tables.load(s, dir, "part").select("p_partkey", "p_type")
    val dp = discPrice(col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", dp)).cast("double").as("promo_revenue"),
        sum(dp).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))
      .withColumn("promo_share_pct",
        col("promo_revenue") / col("total_revenue") * lit(100))
  }

  private val promoShareSql =
    s"""SELECT promo_revenue, total_revenue, n_items,
      |       promo_revenue / total_revenue * 100 AS promo_share_pct
      |FROM (
      |  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPriceSql END) AS DOUBLE) AS promo_revenue,
      |         CAST(sum($discPriceSql) AS DOUBLE) AS total_revenue,
      |         count(*) AS n_items
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01') t""".stripMargin

  /** Q15: top supplier — per-supplier exact revenue over one ship-quarter,
    * then the argmax via a broadcast 1-row max joined back in DECIMAL
    * space (never compare doubles for the winner; the double appears only
    * in the output). Window.partitionBy(lit(0)) would be folded to an
    * unpartitioned window (CLAUDE.md), so the 1-row-aggregate join is the
    * scale-safe global-argmax idiom.
    */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_suppkey", "l_extendedprice", "l_discount")
    val rev = li.groupBy("l_suppkey")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
    val mx = rev.agg(max(col("rev_dec")).as("mx"))
    val supp = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name")
    rev.join(broadcast(mx), col("rev_dec") === col("mx"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
  }

  private val topSupplierSql =
    s"""WITH r AS (
      |  SELECT l_suppkey, sum($discPriceSql) AS rev_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
      |FROM r JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_dec = (SELECT max(rev_dec) FROM r)""".stripMargin

  /** Q17: small-quantity-order revenue — for one brand's small parts, sum
    * the price of lines whose quantity is below a fifth of that part's
    * average quantity. The correlated scalar aggregate plans as a
    * per-part pre-aggregate joined back (group-sized, broadcastable);
    * the threshold sum_q / (5·count) is one IEEE division of exact
    * operands so both engines classify every line identically.
    */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(s, dir, "part")
      .where(col("p_brand") === "Brand#23" && col("p_size") <= 10)
      .select("p_partkey")
    val li = Tables.load(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val thr = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((sum("l_quantity") / (count(lit(1)) * lit(5))).as("qty_thr"))
    li.join(broadcast(thr), col("l_partkey") === col("t_partkey"))
      .where(col("l_quantity") < col("qty_thr"))
      .agg(
        (sum(dec2(col("l_extendedprice"))).cast("double") / lit(7)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  private val smallQtyRevenueSql =
    """WITH li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#23' AND p_size <= 10),
      |thr AS (
      |  SELECT l_partkey AS t_partkey,
      |         sum(l_quantity) / (count(*) * 5) AS qty_thr
      |  FROM li GROUP BY l_partkey)
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7 AS avg_yearly,
      |       count(*) AS n_small
      |FROM li JOIN thr ON l_partkey = t_partkey
      |WHERE l_quantity < qty_thr""".stripMargin

  /** Q18: large-volume orders — group lineitem by order, keep groups whose
    * total quantity clears 350, then widen with orders + customer. The
    * HAVING gate runs on the already-shuffled aggregate, so the expensive
    * join only sees the (tiny) surviving key set.
    */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .where(col("sum_qty") > 350)
    val ord = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"), col("sum_qty"))
  }

  private val largeOrdersSql =
    """SELECT c_custkey, c_name, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |       o_totalprice, sum_qty
      |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 350) b
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Q21: suppliers who kept waiting customers — on finished orders, a
    * supplier's line shipped >90 days late, some OTHER supplier also fed
    * the order (left-semi self-join), and NO other supplier was late
    * (left-anti self-join). Both self-joins key on l_orderkey, so the
    * probe co-partitions with the already-shuffled fact — one shuffle
    * total for all three legs at any scale. Top 20 by wait count,
    * supplier name breaking ties.
    */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"),
        col("l_shipdate").as("lsd"))
    val ordF = Tables.load(s, dir, "orders")
      .where(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val l1 = li
      .join(ordF, col("lo") === col("o_orderkey"))
      .where(col("lsd") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
    val others = li.select(col("lo").as("o2_orderkey"), col("ls").as("o2_suppkey"),
      col("lsd").as("o2_shipdate"))
    val withOther = l1.join(others,
      col("o2_orderkey") === col("lo") && col("o2_suppkey") =!= col("ls"),
      "left_semi")
    val sole = withOther.join(others,
      col("o2_orderkey") === col("lo") && col("o2_suppkey") =!= col("ls") &&
        col("o2_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
      "left_anti")
    val supp = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name")
    sole.join(broadcast(supp), col("ls") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val waitingSuppliersSql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** Q22: idle rich customers — above-average positive balance (mean in
    * exact decimal space: the raw double sum would order-diverge across
    * engines at the last ulp and flip borderline rows), no orders since
    * 1999, grouped by nation. The scalar threshold broadcasts; the
    * activity check is a left-anti join on c_custkey.
    */
  def idleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select("c_custkey", "c_acctbal", "c_nationkey")
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("ab"))
    val recent = Tables.load(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select("o_custkey")
    val nat = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
  }

  private val idleRichCustomersSql =
    """SELECT n_name AS nation, count(*) AS numcust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
      |                   FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY n_name""".stripMargin

  // ---- derived partsupp -----------------------------------------------
  //
  // The driver schema has no partsupp table, so the five remaining TPC-H
  // shapes (q2/q9/q11/q16/q20) run over a DERIVED part-supplier relation:
  // one aggregate over lineitem per (l_partkey, l_suppkey), with
  //   ps_supplycost = min line price (exact DECIMAL(12,2) min), and
  //   ps_availqty   = total shipped quantity (exact BIGINT sum).
  // Deterministic, exact, and the same CTE replays verbatim in DuckDB.
  // 100 TB shape: ONE fact shuffle on (partkey, suppkey) builds ps
  // (~#distinct pairs, partsupp-sized not lineitem-sized); every consumer
  // below joins ps against broadcast dims or aggregates of itself.

  // memoized-per-dir and session-cached (the Indicators-pack discipline):
  // five TPC-H shapes start from this one fact aggregate, so the first
  // pays the lineitem scan and the rest reuse the partsupp-sized relation
  private val psCache = graft.Memo.base()

  private def partsupp(s: SparkSession, dir: String): DataFrame =
    psCache(dir) { d =>
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(
          min(dec2(col("l_extendedprice"))).as("ps_supplycost"),
          sum(col("l_quantity").cast("long")).as("ps_availqty"))
    }

  private val partsuppSql =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** Q2: minimum-cost supplier — for each ECONOMY part of bounded size,
    * every EUROPE supplier whose derived supply cost equals the part's
    * minimum across that region. Plan pattern: aggregate-then-join-back
    * (per-part min as a broadcast side), dims all broadcast; the ps build
    * is the only fact shuffle. Money stays DECIMAL end-to-end, one final
    * cast to double per emitted column.
    */
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(s, dir, "part")
      .where(col("p_type") === "ECONOMY" && col("p_size") <= 15)
      .select("p_partkey", "p_type")
    val region = Tables.load(s, dir, "region").where(col("r_name") === "EUROPE")
    val nat = Tables.load(s, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supp = Tables.load(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val ps = partsupp(s, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("ps_suppkey") === col("s_suppkey"))
    val minCost = ps.groupBy(col("ps_partkey").as("m_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    ps.join(broadcast(minCost),
        col("ps_partkey") === col("m_partkey") &&
          col("ps_supplycost") === col("min_cost"))
      .select(
        col("p_partkey"), col("p_type"), col("s_name"),
        col("n_name").as("nation"), col("s_acctbal"),
        col("ps_supplycost").cast("double").as("supplycost"))
  }

  private val minCostSupplierSql =
    s"""WITH $partsuppSql,
      |eligible AS (
      |  SELECT ps_partkey, ps_suppkey, ps_supplycost, p_type, s_name, n_name, s_acctbal
      |  FROM ps
      |  JOIN part ON ps_partkey = p_partkey
      |  JOIN supplier ON ps_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE p_type = 'ECONOMY' AND p_size <= 15 AND r_name = 'EUROPE'),
      |mc AS (
      |  SELECT ps_partkey AS m_partkey, min(ps_supplycost) AS min_cost
      |  FROM eligible GROUP BY 1)
      |SELECT ps_partkey AS p_partkey, p_type, s_name, n_name AS nation, s_acctbal,
      |       CAST(ps_supplycost AS DOUBLE) AS supplycost
      |FROM eligible JOIN mc
      |  ON ps_partkey = m_partkey AND ps_supplycost = min_cost""".stripMargin

  /** Q9: product-type profit — per supplier nation per ship year, the
    * profit on 'red' parts: discounted revenue minus derived supply cost ×
    * quantity. Every term has scale ≤ 4, so the per-line amount ×10⁴ is an
    * exact integer; the sum is emitted as that scaled BIGINT (never a wide
    * decimal recast to double — the r7-documented sf0.1 divergence class).
    * Per-line |amount_e4| ≤ ~1e9 and the grand total at 100 TB fits int64
    * only per (nation, year) group (~1e15 at 1e11 lines/group) — the
    * group-sized bound is the safe one, and partial aggregation keeps the
    * add order irrelevant (integer adds commute exactly).
    */
  def productProfit(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(s, dir, "part")
      .where(col("p_name").like("red%")).select("p_partkey")
    val nat = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    val supp = Tables.load(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val ps = partsupp(s, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .select("ps_partkey", "ps_suppkey", "ps_supplycost")
    Tables.load(s, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(
        col("n_name").as("nation"),
        year(col("l_shipdate")).as("o_year"),
        ((discPrice(col("l_extendedprice"), col("l_discount")) -
          col("ps_supplycost") * col("l_quantity").cast("decimal(12,2)")) * lit(10000))
          .cast("long").as("amount_e4"))
      .groupBy("nation", "o_year")
      .agg(sum(col("amount_e4")).as("profit_e4"))
  }

  private val productProfitSql =
    s"""WITH $partsuppSql
      |SELECT n_name AS nation, year(l_shipdate) AS o_year,
      |       CAST(sum(CAST(($discPriceSql -
      |           ps_supplycost * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS BIGINT)) AS BIGINT)
      |         AS profit_e4
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE 'red%'
      |GROUP BY 1, 2""".stripMargin

  /** Q11: important stock — per-part stock value held by EUROPE suppliers,
    * kept when the part's value exceeds 1/10000 of the region total.
    * Plan pattern: scalar-subquery threshold (1-row aggregate broadcast
    * back, q15/q22's discipline). All value arithmetic is integer-scaled
    * cents (value_e2 = cost × qty × 100 as BIGINT): the filter
    * `value_e2 * 10000 > total_e2` is an exact integer comparison in both
    * engines — no decimal-quotient threshold to mis-round. Bounds: per-part
    * value_e2 ≤ ~1e13 at sf0.1 so the ×10⁴ stays under 2^63; at larger
    * scales pre-divide the threshold instead (documented trade).
    */
  def importantStock(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region").where(col("r_name") === "EUROPE")
    val nat = Tables.load(s, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val supp = Tables.load(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val value = partsupp(s, dir)
      .join(broadcast(supp), col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost") * col("ps_availqty") * lit(100)).cast("long").as("v_e2"))
      .groupBy("ps_partkey")
      .agg(sum(col("v_e2")).as("value_e2"))
    val total = value.agg(sum(col("value_e2")).as("total_e2"))
    value.crossJoin(broadcast(total))
      .where(col("value_e2") * lit(10000) > col("total_e2"))
      .select("ps_partkey", "value_e2")
  }

  private val importantStockSql =
    s"""WITH $partsuppSql,
      |v AS (
      |  SELECT ps_partkey,
      |         CAST(sum(CAST(ps_supplycost * ps_availqty * 100 AS BIGINT)) AS BIGINT) AS value_e2
      |  FROM ps
      |  JOIN supplier ON ps_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'
      |  GROUP BY 1)
      |SELECT ps_partkey, value_e2 FROM v
      |WHERE value_e2 * 10000 > (SELECT CAST(sum(value_e2) AS BIGINT) FROM v)""".stripMargin

  /** Q16: parts/supplier relationship — distinct supplier counts per
    * (brand, type, size) bucket for a size list, excluding one brand, one
    * type, and every negative-balance supplier (the testdata stand-in for
    * q16's complaints predicate). The single distinct aggregate plans as a
    * two-level HashAggregate with NO Expand (the engine-documented shape);
    * the exclusion list is a broadcast anti join, never a NOT IN scan.
    */
  def supplierPartCount(s: SparkSession, dir: String): DataFrame = {
    val badSupp = Tables.load(s, dir, "supplier")
      .where(col("s_acctbal") < 0).select("s_suppkey")
    val parts = Tables.load(s, dir, "part")
      .where(col("p_brand") =!= "Brand#23" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 7, 11, 14, 19, 23, 36))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    partsupp(s, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }

  private val supplierPartCountSql =
    s"""WITH $partsuppSql
      |SELECT p_brand, p_type, p_size,
      |       count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM ps JOIN part ON ps_partkey = p_partkey
      |WHERE p_brand <> 'Brand#23' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 7, 11, 14, 19, 23, 36)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  /** Q20: excess-stock suppliers — suppliers holding more than twice the
    * 1997 shipped quantity of some 'small' part they stock. Both sides of
    * the comparison are exact BIGINT quantity sums; the supplier list is a
    * left-semi join driven by the qualified ps rows (fact-sized work
    * happens once in ps + one windowed re-aggregate, supplier output is
    * dim-sized).
    */
  def excessStockSuppliers(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(s, dir, "part")
      .where(col("p_name").like("small%")).select("p_partkey")
    val shipped = Tables.load(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("sh_partkey"), col("l_suppkey").as("sh_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty97"))
    val qualified = partsupp(s, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(shipped, col("ps_partkey") === col("sh_partkey") &&
        col("ps_suppkey") === col("sh_suppkey"))
      .where(col("ps_availqty") > col("qty97") * lit(2))
      .select(col("ps_suppkey")).distinct()
    val nat = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    Tables.load(s, dir, "supplier")
      .join(qualified, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name").as("nation"), col("s_acctbal"))
  }

  private val excessStockSuppliersSql =
    s"""WITH $partsuppSql,
      |sh AS (
      |  SELECT l_partkey AS sh_partkey, l_suppkey AS sh_suppkey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty97
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'small%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1, 2)
      |SELECT s_name, n_name AS nation, s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (
      |  SELECT ps_suppkey FROM ps
      |  JOIN part ON ps_partkey = p_partkey
      |  JOIN sh ON ps_partkey = sh_partkey AND ps_suppkey = sh_suppkey
      |  WHERE p_name LIKE 'small%' AND ps_availqty > qty97 * 2)""".stripMargin

  override def all: Seq[Q] = Seq(
    Q("q2_min_cost_supplier", minCostSupplier, Some(minCostSupplierSql)),
    Q("q9_product_profit", productProfit, Some(productProfitSql)),
    Q("q11_important_stock", importantStock, Some(importantStockSql)),
    Q("q16_supplier_part_count", supplierPartCount, Some(supplierPartCountSql)),
    Q("q20_excess_stock_suppliers", excessStockSuppliers, Some(excessStockSuppliersSql)),
    Q("q4_order_priority", orderPriority, Some(orderPrioritySql)),
    Q("q6_forecast_revenue", forecastRevenue, Some(forecastRevenueSql)),
    Q("q8_market_share", marketShare, Some(marketShareSql)),
    Q("q10_returned_revenue", returnedRevenue, Some(returnedRevenueSql)),
    Q("q13_order_count_dist", orderCountDistribution, Some(orderCountDistributionSql)),
    Q("q14_promo_share", promoShare, Some(promoShareSql)),
    Q("q15_top_supplier", topSupplier, Some(topSupplierSql)),
    Q("q17_small_qty_revenue", smallQtyRevenue, Some(smallQtyRevenueSql)),
    Q("q18_large_orders", largeOrders, Some(largeOrdersSql)),
    Q("q21_waiting_suppliers", waitingSuppliers, Some(waitingSuppliersSql)),
    Q("q22_idle_rich_customers", idleRichCustomers, Some(idleRichCustomersSql)))
}
