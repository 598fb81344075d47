package graft.analytics

import graft.{Localize, Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining analytics: market-basket association rules, rank-based
  * autocorrelation, and CUSUM changepoint detection — the classical "data
  * mining" layer the reference's analysis list implies but never spells out
  * (ref: app/for_rabbit/from_parser_to_rabbitmq.py:228-240 declares the
  * analyses as comments; these are the co-movement/seasonality/structural-
  * break companions of A1-A17).
  *
  * Everything here is INTEGER-exact end to end (counts, ranks, prefix sums,
  * ppm ratios via integer division), so every query hash-gates against the
  * DuckDB oracle with no float tie classes.
  */
object Mining extends QueryPack {

  /** rules emitted by [[assocRules]] */
  val RuleK = 50

  /** minimum item support as a fraction denominator: sup*100 >= n_baskets */
  val MinSupPct = 1

  /** Market-basket association rules over order baskets (item = p_brand),
    * the A-Priori shape: frequent items first (support >= 1% of baskets),
    * pairs generated ONLY among frequent items, then directed rules
    * a=>b scored by confidence = co/sup(a) and lift = co*n/(sup(a)*sup(b)),
    * both emitted as integer ppm (floor of an all-integer quotient — exact
    * in both engines for positive operands). Output: the [[RuleK]]
    * positively-associated rules (lift > 1) by lift desc.
    *
    * 100 TB shape: the part dim is broadcast and the fact shuffles ONCE —
    * the basket-assembly groupBy — with collect_set deduping in the partial
    * aggregate; item supports, the frequent-item cut, and pair generation
    * all run on the basket-sized relation. Pairs are expanded IN PLACE from
    * each basket's sorted frequent-item array (no self-join, so no second
    * fact-scale shuffle), with per-basket fan-out bounded by (frequent
    * items per basket)^2 — the A-Priori prune cuts the item domain BEFORE
    * that quadratic; pair counts map-side-combine into an item-domain-sized
    * shuffle. No collect, no cartesian. (The first formulation self-joined
    * the exploded basket relation on basket id: two fact-scale shuffles and
    * 6.4 s at sf0.1 vs ~2 s for this shape.)
    */
  def assocRules(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    // spread: the broadcast join probe + collect_set partial aggregate are
    // per-row work inside the one-row-group scan's single task otherwise
    val li = Tables.loadSpread(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val pt = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val baskets = keep(li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("p_brand"))).as("items")))
    val tot = baskets.agg(count(lit(1)).as("n_baskets"))
    val sup = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(tot))
      .filter(col("sup") * 100 >= col("n_baskets") * MinSupPct)
    val freqItems = broadcast(sup.select(col("item"), col("sup"), col("n_baskets")))
    // frequent-item prune applied to the basket ARRAYS via a broadcast 1-row
    // array — no re-shuffle, no driver collect
    val freqArr = broadcast(sup.agg(sort_array(collect_list(col("item"))).as("freq")))
    // kept + materialized: `directed` unions pairs with its own flip, so
    // without the pin one action runs the basket pair expansion TWICE
    // (guide §2.4; the relation is brand-pair-sized — a few hundred rows)
    val pairs = keep(baskets.crossJoin(freqArr)
      .select(expr("filter(items, x -> array_contains(freq, x))").as("fi"))
      .select(explode(expr(
        """flatten(transform(fi, (x, i) ->
          |  transform(slice(fi, i + 2, greatest(size(fi) - i - 1, 0)),
          |            y -> struct(x AS ia, y AS ib))))""".stripMargin)).as("p"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(count(lit(1)).as("co")))
    pairs.count()
    val directed = pairs.select(col("ia").as("ante"), col("ib").as("conseq"), col("co"))
      .unionAll(pairs.select(col("ib").as("ante"), col("ia").as("conseq"), col("co")))
    val scored = directed
      .join(freqItems.select(col("item").as("ante"), col("sup").as("sup_a"), col("n_baskets")), Seq("ante"))
      .join(freqItems.select(col("item").as("conseq"), col("sup").as("sup_b")), Seq("conseq"))
      .select(
        col("ante"), col("conseq"), col("n_baskets"),
        col("sup_a"), col("sup_b"), col("co").as("co_sup"),
        expr("co * 1000000 div sup_a").as("conf_ppm"),
        expr("co * n_baskets * 1000000 div (sup_a * sup_b)").as("lift_ppm"))
      .filter(col("lift_ppm") > 1000000)
    scored
      .orderBy(col("lift_ppm").desc, col("conf_ppm").desc, col("ante"), col("conseq"))
      .limit(RuleK)
  }

  val assocRulesSql: String =
    s"""WITH baskets AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT count(DISTINCT ok) AS n_baskets FROM baskets),
       |sup AS (
       |  SELECT item, CAST(count(*) AS BIGINT) AS sup, n_baskets
       |  FROM baskets CROSS JOIN tot
       |  GROUP BY item, n_baskets
       |  HAVING count(*) * 100 >= n_baskets * $MinSupPct),
       |fb AS (SELECT ok, b.item FROM baskets b JOIN sup USING (item)),
       |pairs AS (
       |  SELECT x.item AS ia, y.item AS ib, CAST(count(*) AS BIGINT) AS co
       |  FROM fb x JOIN fb y ON x.ok = y.ok AND x.item < y.item
       |  GROUP BY 1, 2),
       |directed AS (
       |  SELECT ia AS ante, ib AS conseq, co FROM pairs
       |  UNION ALL
       |  SELECT ib AS ante, ia AS conseq, co FROM pairs),
       |scored AS (
       |  SELECT d.ante, d.conseq, a.n_baskets, a.sup AS sup_a, b.sup AS sup_b,
       |         d.co AS co_sup,
       |         d.co * 1000000 // a.sup AS conf_ppm,
       |         d.co * a.n_baskets * 1000000 // (a.sup * b.sup) AS lift_ppm
       |  FROM directed d
       |  JOIN sup a ON a.item = d.ante
       |  JOIN sup b ON b.item = d.conseq
       |  WHERE d.co * a.n_baskets * 1000000 // (a.sup * b.sup) > 1000000)
       |SELECT * FROM scored
       |ORDER BY lift_ppm DESC, conf_ppm DESC, ante, conseq
       |LIMIT $RuleK""".stripMargin

  /** triples reported by [[assocTriples]] */
  val TripleK = 25

  /** 3-itemset association mining — the level-3 A-Priori step over the
    * same baskets as [[assocRules]]: triples expand IN PLACE from each
    * basket's sorted frequent-item array (cubic per basket but bounded by
    * the A-Priori item cut, and generated map-side — no 3-way self-join of
    * the fact), counted with map-side combine into an item-domain³ shuffle
    * at most. Scored by 3-way lift co·n²/(s_a·s_b·s_c) — all operands
    * exact in double, fixed op order, floor-milli. Emits the [[TripleK]]
    * most positively-associated triples.
    */
  def assocTriples(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val pt = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val baskets = keep(li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("p_brand"))).as("items")))
    val tot = baskets.agg(count(lit(1)).as("n_baskets"))
    val sup = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(tot))
      .filter(col("sup") * 100 >= col("n_baskets") * MinSupPct)
    val freqItems = broadcast(sup.select(col("item"), col("sup"), col("n_baskets")))
    val freqArr = broadcast(sup.agg(sort_array(collect_list(col("item"))).as("freq")))
    val triples = baskets.crossJoin(freqArr)
      .select(expr("filter(items, x -> array_contains(freq, x))").as("fi"))
      .select(explode(expr(
        """flatten(transform(fi, (x, i) ->
          |  flatten(transform(slice(fi, i + 2, greatest(size(fi) - i - 1, 0)), (y, j) ->
          |    transform(slice(fi, i + j + 3, greatest(size(fi) - i - j - 2, 0)),
          |              z -> struct(x AS ia, y AS ib, z AS ic))))))""".stripMargin)).as("t"))
      .groupBy(col("t.ia").as("ia"), col("t.ib").as("ib"), col("t.ic").as("ic"))
      .agg(count(lit(1)).as("co3"))
    val scored = triples
      .join(freqItems.select(col("item").as("ia"), col("sup").as("sa"), col("n_baskets")), Seq("ia"))
      .join(freqItems.select(col("item").as("ib"), col("sup").as("sb")), Seq("ib"))
      .join(freqItems.select(col("item").as("ic"), col("sup").as("sc_")), Seq("ic"))
      .select(col("ia"), col("ib"), col("ic"), col("co3"),
        col("sa"), col("sb"), col("sc_"),
        expr("""CAST(floor(CAST(co3 AS DOUBLE) * n_baskets * n_baskets
               | / CAST(sa * sb * sc_ AS DOUBLE) * 1000) AS BIGINT)"""
          .stripMargin).as("lift3_milli"))
    val out = scored
      .orderBy(col("lift3_milli").desc, col("ia"), col("ib"), col("ic"))
      .limit(TripleK)
    out
  }

  private val assocTriplesSql =
    s"""WITH baskets AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT count(DISTINCT ok) AS n_baskets FROM baskets),
       |sup AS (
       |  SELECT item, CAST(count(*) AS BIGINT) AS sup, n_baskets
       |  FROM baskets CROSS JOIN tot
       |  GROUP BY item, n_baskets
       |  HAVING count(*) * 100 >= n_baskets * $MinSupPct),
       |fb AS (SELECT ok, b.item FROM baskets b JOIN sup USING (item)),
       |triples AS (
       |  SELECT x.item AS ia, y.item AS ib, z.item AS ic, CAST(count(*) AS BIGINT) AS co3
       |  FROM fb x
       |  JOIN fb y ON x.ok = y.ok AND x.item < y.item
       |  JOIN fb z ON y.ok = z.ok AND y.item < z.item
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT t.ia, t.ib, t.ic, t.co3, a.sup AS sa, b.sup AS sb, c.sup AS sc_,
       |         CAST(floor(CAST(t.co3 AS DOUBLE) * a.n_baskets * a.n_baskets
       |           / CAST(a.sup * b.sup * c.sup AS DOUBLE) * 1000) AS BIGINT) AS lift3_milli
       |  FROM triples t
       |  JOIN sup a ON a.item = t.ia
       |  JOIN sup b ON b.item = t.ib
       |  JOIN sup c ON c.item = t.ic)
       |SELECT * FROM scored
       |ORDER BY lift3_milli DESC, ia, ib, ic
       |LIMIT $TripleK""".stripMargin

  /** index-space lags probed by [[tsAcf]] */
  val AcfLags: Seq[Int] = Seq(1, 2, 3, 7, 14, 28)

  /** Rank (Spearman) autocorrelation of the daily-revenue series at the
    * [[AcfLags]] index lags — the robust ACF companion of
    * [[Analytics]]'s Theil-Sen robust trend. For lag k over the n-day
    * series, the head (first n-k days) and tail (last n-k days) are ranked
    * INDEPENDENTLY by (value, index) — a deterministic total order, so no
    * tie correction is needed and the statistic is integer-exact:
    *
    *   rho_k = 1 - 6*sum(d^2) / (m*(m^2-1)),   m = n-k, d = rank diff
    *
    * emitted as floor(1e6 * (M - 6D) / M), a possibly-negative integer
    * quotient computed via the pmod identity (Spark `div` truncates while
    * DuckDB `//` floors — subtracting pmod first makes the division exact,
    * so both agree; CLAUDE.md's signed-ratio rule).
    *
    * 100 TB shape: the fact scan collapses to the daily series via one
    * partial aggregate (series length is calendar-bounded, thousands of
    * rows regardless of fact size); everything after — the lag cross join,
    * the two windowed ranks, the pair join — is series-scale. Ranks are
    * integers <= m, so M ~ m^3 and 1e6*(M-6D) stays far under 2^63 for any
    * calendar-bounded series.
    */
  def tsAcf(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val daily = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("v"))
    // the series is calendar-bounded (thousands of rows): an explicit
    // 1-partition exchange makes the global rank a deliberate single-task
    // step while the fact-scale aggregate above it stays parallel. The
    // materialized partition id (constant 0 after the exchange, but opaque
    // to constant folding unlike lit(0)) gives the window a real partition
    // spec, so the semantics are the global ordering without WindowExec's
    // move-everything warning.
    val idx = daily.repartition(1)
      .withColumn("pid", spark_partition_id())
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("day"))))
      .drop("pid")
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
    val lags = s.createDataFrame(AcfLags.map(Tuple1(_))).toDF("lag")
    val wl = idx.crossJoin(broadcast(lags))
    val head = wl.filter(col("idx") <= col("n") - col("lag"))
      .withColumn("rh", row_number().over(
        Window.partitionBy(col("lag")).orderBy(col("v"), col("idx"))))
      .select(col("lag"), col("idx"), col("rh"))
    val tail = wl.filter(col("idx") > col("lag"))
      .withColumn("rt", row_number().over(
        Window.partitionBy(col("lag")).orderBy(col("v"), col("idx"))))
      .select(col("lag").as("tl"), col("idx").as("tidx"), col("rt"))
    head
      .join(tail, col("lag") === col("tl") && col("idx") + col("lag") === col("tidx"))
      .groupBy(col("lag"))
      .agg(
        count(lit(1)).as("m"),
        sum((col("rh") - col("rt")) * (col("rh") - col("rt"))).as("d2"))
      .select(
        col("lag"), col("m"), col("d2"),
        expr("""(1000000 * (m*(m*m-1) - 6*d2)
               | - pmod(1000000 * (m*(m*m-1) - 6*d2), m*(m*m-1)))
               | div (m*(m*m-1))""".stripMargin).as("rho_ppm"))
      .orderBy(col("lag"))
  }

  val tsAcfSql: String =
    s"""WITH daily AS (
       |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS day,
       |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1),
       |idx AS (
       |  SELECT day, v, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
       |         (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n
       |  FROM daily),
       |lags AS (SELECT CAST(lag AS BIGINT) AS lag
       |         FROM (VALUES ${AcfLags.map("(" + _ + ")").mkString(", ")}) AS t(lag)),
       |head AS (
       |  SELECT lag, idx,
       |         CAST(row_number() OVER (PARTITION BY lag ORDER BY v, idx) AS BIGINT) AS rh
       |  FROM idx CROSS JOIN lags WHERE idx <= n - lag),
       |tl AS (
       |  SELECT lag, idx,
       |         CAST(row_number() OVER (PARTITION BY lag ORDER BY v, idx) AS BIGINT) AS rt
       |  FROM idx CROSS JOIN lags WHERE idx > lag),
       |agg AS (
       |  SELECT head.lag AS lag, CAST(count(*) AS BIGINT) AS m,
       |         CAST(sum((rh - rt) * (rh - rt)) AS BIGINT) AS d2
       |  FROM head JOIN tl ON head.lag = tl.lag AND head.idx + head.lag = tl.idx
       |  GROUP BY 1)
       |SELECT lag, m, d2,
       |       (1000000 * (m*(m*m-1) - 6*d2)
       |        - ((1000000 * (m*(m*m-1) - 6*d2)) % (m*(m*m-1)) + m*(m*m-1)) % (m*(m*m-1)))
       |       // (m*(m*m-1)) AS rho_ppm
       |FROM agg ORDER BY lag""".stripMargin

  /** per-user purchase-history cap for [[cfItemRecs]] (bounds the pair
    * quadratic at C(cap,2) per user regardless of history length)
    */
  val CfHistCap = 30

  /** item-item neighbor-list truncation (the serving-layout bound) */
  val CfNeighborK = 10

  /** recommendations emitted per target user */
  val CfRecK = 3

  /** target cohort: customers with custkey below this */
  val CfTargetMax = 10L

  /** minimum co-purchase support for an item-item similarity edge: a pair
    * seen in ONE shared history is noise (and the co=1 tail is ~90% of the
    * pair relation — the cut is also what keeps the neighbor-ranking
    * window off a mostly-noise multimillion-row input)
    */
  val CfMinCo = 2L

  /** Item-item collaborative filtering (the classic Amazon/"customers who
    * bought X also bought Y" recommender): per-customer purchase histories
    * → item-item Jaccard similarities from co-purchase counts → truncated
    * per-item neighbor lists → per-target-user scores as the integer sum of
    * similarity ppm over paths from their owned items, owned items
    * excluded, top [[CfRecK]] per user. Every score is integer (Jaccard as
    * floor-ppm of an all-integer quotient), so the whole recommend pipeline
    * hash-gates.
    *
    * 100 TB shape: histories are CAPPED at [[CfHistCap]] items by md5 rank
    * (the production frequency-cap: a crawler account with 10^6 purchases
    * otherwise contributes 10^12 pairs), pairs expand IN PLACE from each
    * user's sorted capped array (map-side, no fact self-join — the
    * [[assocRules]] shape), item supports broadcast, neighbor lists
    * truncated to [[CfNeighborK]] per item (the standard serving layout),
    * and scoring joins the target cohort's capped histories against those
    * bounded lists. No step is more than (cap × neighbor-list) fan-out.
    */
  /** compiled ordered-pair expansion (i<j) over a sorted id array — the
    * HOF `transform(slice(...))` form is CodegenFallback and re-evaluates
    * its lambda interpreted per element (the [[graft.llm.Dedup]] shingle
    * lesson); this is a tight two-index loop
    */
  private val pairUdf = udf { items: Seq[Long] =>
    val n = items.length
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { out += ((items(i), items(j))); j += 1 }
      i += 1
    }
    out.toSeq
  }

  /** the recommender's named intermediate relations — exposed so ScaleProbe
    * can measure per-stage ROW GROWTH under weak scaling and MiningSpec can
    * pin the cap laws that bound each stage (the r9 verdict's ask: the 10×
    * probe showed 6.1× wall growth and could not say WHICH stage grows)
    */
  private[graft] final case class CfStages(
      up0: DataFrame, up: DataFrame, pairsRaw: DataFrame, pairs: DataFrame,
      sim: DataFrame, nb: DataFrame, cand: DataFrame, out: DataFrame)

  private[graft] def cfStages(keep: Localize.Scope, s: SparkSession, dir: String): CfStages = {
    val od = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // shuffle_hash: both sides are fact-scale (no broadcast at 100 TB) and
    // the join feeds a distinct that re-shuffles anyway — SMJ's two sorts
    // buy nothing (guide §3.1: prefer SHJ when a side fits per partition)
    // repartition by u BEFORE the distinct: HashPartitioning(u) satisfies
    // the distinct's ClusteredDistribution(u, it), AND the downstream cap
    // window (partitionBy u) and history groupBy(u) reuse the cached
    // partitioning — ONE exchange where a (u,it)-keyed distinct would
    // force a second, window-keyed one (guide §2.4: share one exchange)
    // kept: consumed twice, by the capped-history build AND the
    // full-ownership exclusion anti-join — uncached it re-runs the fact
    // join+distinct per consumer
    val up0 = keep(od.hint("shuffle_hash").join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("it"))
      .repartition(col("u")).distinct())
    val up = keep(up0
      .withColumn("rk", row_number().over(Window.partitionBy(col("u"))
        .orderBy(md5(concat(col("u"), lit(":"), col("it"))), col("it"))))
      .where(col("rk") <= CfHistCap).drop("rk"))
    val sup = up.groupBy(col("it")).agg(count(lit(1)).as("n"))
    val pairsRaw = up.groupBy(col("u")).agg(sort_array(collect_list(col("it"))).as("items"))
      .select(explode(pairUdf(col("items"))).as("p"))
    // kept: `sym` unions pairs with its own flip, so WITHOUT the cache one
    // action evaluates the whole pair expansion (explode + 5.9M-row shuffle
    // + aggregate) TWICE (guide §2.4: share one exchange). Post-MinCo the
    // relation is pair-sized (85k rows at sf0.1), not fact-sized.
    // cfItemRecs materializes it before the final action.
    val pairs = keep(pairsRaw
      .groupBy(col("p._1").as("ia"), col("p._2").as("ib"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= CfMinCo))
    val sym = pairs.unionAll(
      pairs.select(col("ib").as("ia"), col("ia").as("ib"), col("co")))
    val sim = sym
      .join(broadcast(sup.select(col("it").as("ia"), col("n").as("na"))), "ia")
      .join(broadcast(sup.select(col("it").as("ib"), col("n").as("nb"))), "ib")
      .select(col("ia"), col("ib"),
        expr("co * 1000000 div (na + nb - co)").as("jac_ppm"))
    val nb = sim
      .withColumn("rk", row_number().over(Window.partitionBy(col("ia"))
        .orderBy(col("jac_ppm").desc, col("ib"))))
      .where(col("rk") <= CfNeighborK).drop("rk")
    val targets = up.where(col("u") < CfTargetMax)
    // exclusion runs against the FULL ownership relation (up0), not the
    // capped history: an item squeezed out of the cap is still owned and
    // must never be recommended back
    // the anti-join's key includes u, so only TARGET users' ownership rows
    // can ever match — prefilter up0 to the cohort (guide §2.3: shuffle
    // fewer bytes; cohort-sized instead of corpus-sized anti side)
    val cand = targets.join(nb, targets("it") === nb("ia"))
      .join(up0.where(col("u") < CfTargetMax)
        .select(col("u").as("u"), col("it").as("ib")), Seq("u", "ib"), "left_anti")
      .groupBy(col("u"), col("ib"))
      .agg(sum(col("jac_ppm")).as("score"), count(lit(1)).as("n_paths"))
    val out = cand
      .withColumn("rank", row_number().over(Window.partitionBy(col("u"))
        .orderBy(col("score").desc, col("ib"))).cast("long"))
      .where(col("rank") <= CfRecK)
      .select(col("u").as("custkey"), col("ib").as("p_reckey"),
        col("score"), col("n_paths"), col("rank"))
      .orderBy(col("custkey"), col("rank"))
    CfStages(up0, up, pairsRaw, pairs, sim, nb, cand, out)
  }

  /** (rows, seconds) per recommender stage, in pipeline order — the
    * weak-scaling growth diagnostic. Stage times are CUMULATIVE from the
    * cached bases (each count is its own job), so comparing a stage's time
    * across scales still isolates which JOB grows superlinearly even when
    * row counts grow exactly linearly (the r9 probe's unanswered question).
    * The stage caches are released before returning.
    */
  private[graft] def cfStageRows(
      s: SparkSession, dir: String): Seq[(String, Long, Double)] = Localize.scope { keep =>
    val st = cfStages(keep, s, dir)
    def timed(name: String, df: org.apache.spark.sql.DataFrame): (String, Long, Double) = {
      val t0 = System.nanoTime()
      val n = df.count()
      (name, n, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      timed("up0_ownership", st.up0),
      timed("up_capped", st.up),
      timed("pairs_raw", st.pairsRaw),
      timed("pairs_minco", st.pairs),
      timed("sim_edges", st.sim),
      timed("nb_truncated", st.nb),
      timed("cand_scored", st.cand))
  }

  def cfItemRecs(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val st = cfStages(keep, s, dir)
    // materialize the pair cache FIRST: the final tree scans it twice (sym
    // union) and an unmaterialized cache entry is computed by BOTH legs'
    // concurrent tasks — the count pins it once (the Graph-loop discipline)
    st.pairs.count()
    st.out
  }

  val cfItemRecsSql: String =
    s"""WITH up0 AS (
       |  SELECT DISTINCT o_custkey AS u, l_partkey AS it
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |up AS (
       |  SELECT u, it FROM (
       |    SELECT u, it, row_number() OVER (PARTITION BY u
       |      ORDER BY md5(CAST(u AS VARCHAR) || ':' || CAST(it AS VARCHAR)), it) AS rk
       |    FROM up0)
       |  WHERE rk <= $CfHistCap),
       |sup AS (SELECT it, CAST(count(*) AS BIGINT) AS n FROM up GROUP BY it),
       |co AS (
       |  SELECT a.it AS ia, b.it AS ib, CAST(count(*) AS BIGINT) AS co
       |  FROM up a JOIN up b ON a.u = b.u AND a.it < b.it
       |  GROUP BY 1, 2 HAVING count(*) >= $CfMinCo),
       |sym AS (SELECT ia, ib, co FROM co UNION ALL SELECT ib AS ia, ia AS ib, co FROM co),
       |sim AS (
       |  SELECT sym.ia, sym.ib, co * 1000000 // (sa.n + sb.n - co) AS jac_ppm
       |  FROM sym JOIN sup sa ON sa.it = sym.ia JOIN sup sb ON sb.it = sym.ib),
       |nb AS (
       |  SELECT ia, ib, jac_ppm FROM (
       |    SELECT ia, ib, jac_ppm,
       |           row_number() OVER (PARTITION BY ia ORDER BY jac_ppm DESC, ib) AS rk
       |    FROM sim)
       |  WHERE rk <= $CfNeighborK),
       |cand AS (
       |  SELECT t.u, nb.ib, CAST(sum(nb.jac_ppm) AS BIGINT) AS score,
       |         CAST(count(*) AS BIGINT) AS n_paths
       |  FROM up t JOIN nb ON nb.ia = t.it
       |  WHERE t.u < $CfTargetMax
       |    AND NOT EXISTS (SELECT 1 FROM up0 o WHERE o.u = t.u AND o.it = nb.ib)
       |  GROUP BY 1, 2)
       |SELECT u AS custkey, ib AS p_reckey, score, n_paths, rank FROM (
       |  SELECT u, ib, score, n_paths,
       |         CAST(row_number() OVER (PARTITION BY u ORDER BY score DESC, ib) AS BIGINT) AS rank
       |  FROM cand)
       |WHERE rank <= $CfRecK
       |ORDER BY custkey, rank""".stripMargin

  /** trending items emitted by [[trendingDecay]] */
  val TrendK = 20

  /** decay half-life in days (weight halves every window) */
  val TrendHalfLifeD = 7L

  /** Time-decayed trending ranking — "what's hot NOW", the recency-weighted
    * leaderboard a plain count can't give (it weighs January like today).
    * Each order contributes `1e6 div 2^(age div half_life)` to its parts —
    * exponential decay in exact INTEGER arithmetic (division by a shifted
    * power of two; the shift is clamped so it never leaves int64 — no
    * libm `exp`, no float accumulation), aged against the corpus' max
    * order date so the query is reproducible on a frozen dataset. Emits
    * the [[TrendK]] parts by decayed score with their raw counts alongside
    * (the two rankings disagree exactly where recency matters).
    *
    * 100 TB shape: one fact scan with a broadcast 1-row max-date, map-side
    * weights, a part-domain aggregate, TakeOrdered cut.
    */
  def trendingDecay(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("d"))
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val mx = od.agg(max(col("d")).as("dmax"))
    val weighted = od.crossJoin(broadcast(mx))
      .select(col("o_orderkey"),
        expr(s"1000000 div shiftleft(1L, CAST(least((dmax - d) div $TrendHalfLifeD, 40) AS INT))")
          .as("w"))
    val scored = li.join(weighted, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("w")).as("decayed_score"), count(lit(1)).as("n_lineitems"))
    scored
      .orderBy(col("decayed_score").desc, col("p_partkey"))
      .limit(TrendK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("decayed_score").desc, col("p_partkey"))).cast("long"))
  }

  val trendingDecaySql: String =
    s"""WITH od AS (
       |  SELECT o_orderkey,
       |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
       |  FROM orders),
       |mx AS (SELECT CAST(max(d) AS BIGINT) AS dmax FROM od),
       |w AS (
       |  SELECT o_orderkey,
       |         1000000 // (CAST(1 AS BIGINT) << CAST(least((dmax - d) // $TrendHalfLifeD, 40) AS INTEGER)) AS w
       |  FROM od CROSS JOIN mx),
       |scored AS (
       |  SELECT l_partkey AS p_partkey, CAST(sum(w.w) AS BIGINT) AS decayed_score,
       |         CAST(count(*) AS BIGINT) AS n_lineitems
       |  FROM lineitem JOIN w ON l_orderkey = o_orderkey
       |  GROUP BY 1)
       |SELECT p_partkey, decayed_score, n_lineitems, rank FROM (
       |  SELECT *, CAST(row_number() OVER (ORDER BY decayed_score DESC, p_partkey) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $TrendK
       |ORDER BY rank""".stripMargin

  /** Forecast backtesting harness over the daily net-revenue series: replay
    * the two standard zero-parameter baselines — naive-1 (yesterday's value)
    * and seasonal-naive-7 (same weekday last week) — across every day the
    * history can score, and report exact error metrics per model: floor-mean
    * absolute error in cents, floor-mean MAPE (per-day integer ppm ratios,
    * then an integer mean — both divisions non-negative so `div`/`//`
    * agree), signed bias via the portable `floor(double)` form (the
    * possibly-negative-numerator rule), and the worst absolute miss. This is
    * the evaluation half every forecasting operator ([[tsHoltForecast]],
    * [[tsSeasonality]]) needs before anyone trusts it.
    *
    * 100 TB shape: ONE partial-aggregate fact scan collapses lineitem to the
    * calendar-bounded daily series (cached for the model replays and
    * released before return); each model is a day-keyed self-join of that
    * tiny relation. Nothing fact-scale is joined or windowed.
    */
  def tsBacktest(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val li = Tables.load(s, dir, "lineitem")
    val ser = keep(li.groupBy(
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long").as("d"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("v")))
    val out = Seq(("naive1", 1L), ("seasonal7", 7L)).map { case (name, lagD) =>
      val f = ser.select((col("d") + lagD).as("d"), col("v").as("fc"))
      ser.join(f, "d")
        .select(col("v"), col("fc"), abs(col("v") - col("fc")).as("ae"))
        .agg(
          count(lit(1)).as("n_days"),
          sum(col("ae")).as("sae"),
          sum(col("v") - col("fc")).as("serr"),
          sum(expr("(1000000 * ae) div v")).as("sppm"),
          max(col("ae")).as("max_abs_err_c"))
        .select(
          lit(name).as("model"), col("n_days"),
          expr("sae div n_days").as("mae_c"),
          expr("sppm div n_days").as("mape_ppm"),
          floor(col("serr").cast("double") / col("n_days")).cast("long").as("bias_floor_c"),
          col("max_abs_err_c"))
    }.reduce(_ unionAll _)
    out
  }

  val tsBacktestSql: String = {
    def leg(name: String, lagD: Int) =
      s"""SELECT '$name' AS model, CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(sum(abs(v - fc)) AS BIGINT) // count(*) AS mae_c,
         |       CAST(sum((1000000 * abs(v - fc)) // v) AS BIGINT) // count(*) AS mape_ppm,
         |       CAST(floor(CAST(sum(v - fc) AS DOUBLE) / count(*)) AS BIGINT) AS bias_floor_c,
         |       CAST(max(abs(v - fc)) AS BIGINT) AS max_abs_err_c
         |FROM (SELECT a.v, f.v AS fc FROM ser a JOIN ser f ON a.d = f.d + $lagD)""".stripMargin
    s"""WITH ser AS (
       |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
       |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1)
       |${leg("naive1", 1)}
       |UNION ALL
       |${leg("seasonal7", 7)}""".stripMargin
  }

  /** pinball-eval window: the trailing history the quantile forecaster sees */
  val PinW = 28

  /** Quantile-forecast evaluation with the pinball (quantile) loss — the
    * eval dimension [[tsBacktest]]'s point metrics (MAE/MAPE) cannot score:
    * the forecaster predicts the q-QUANTILE of tomorrow's revenue as the
    * exact ceil(q·n)-rank order statistic of the trailing [[PinW]]-day
    * window (sorted-array pick — engine-identical 1-based indexing), and
    * the loss is the ×10-scaled ALL-INTEGER pinball
    * `10q·(v−f)⁺ + 10(1−q)·(f−v)⁺` summed over the history, beside the
    * empirical coverage (share of days at-or-under the forecast, which a
    * calibrated q-quantile forecaster should hold near q·1e6 ppm). Emitted
    * for q = 0.5 and q = 0.9.
    *
    * 100 TB shape: the fact collapses to the calendar-bounded daily series
    * first; the sliding sorted-window pick and both metrics run on that
    * tiny relation under the constant-pid single-partition idiom.
    */
  def tsPinball(s: SparkSession, dir: String): DataFrame = Localize { _ =>
    val li = Tables.load(s, dir, "lineitem")
    val ser = li.groupBy(
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long").as("d"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("v"))
      .repartition(1).withColumn("pid", spark_partition_id())
    val w = Window.partitionBy(col("pid")).orderBy(col("d")).rowsBetween(-PinW, -1)
    val win = ser
      .withColumn("hist", collect_list(col("v")).over(w))
      .where(size(col("hist")) === PinW)
      .withColumn("sorted", array_sort(col("hist")))
    val out = Seq(("q50", 5L, math.ceil(0.5 * PinW).toInt),
        ("q90", 9L, math.ceil(0.9 * PinW).toInt)).map { case (label, tenQ, rank) =>
      win
        .withColumn("f", element_at(col("sorted"), rank))
        .select(col("v"), col("f"))
        .agg(
          count(lit(1)).as("n_days"),
          sum(expr(s"$tenQ * greatest(v - f, 0L) + ${10 - tenQ} * greatest(f - v, 0L)"))
            .as("pinball10_c"),
          sum(when(col("v") <= col("f"), 1L).otherwise(0L)).as("n_covered"))
        .select(lit(label).as("q"), col("n_days"), col("pinball10_c"),
          expr("n_covered * 1000000 div n_days").as("coverage_ppm"))
    }.reduce(_ unionAll _)
    out
  }

  val tsPinballSql: String = {
    def leg(label: String, tenQ: Int, rank: Int) =
      s"""SELECT '$label' AS q, CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(sum($tenQ * greatest(v - f, 0) + ${10 - tenQ} * greatest(f - v, 0)) AS BIGINT) AS pinball10_c,
         |       CAST(sum(CASE WHEN v <= f THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         |         // CAST(count(*) AS BIGINT) AS coverage_ppm
         |FROM (SELECT v, list_sort(hist)[$rank] AS f
         |      FROM win WHERE len(hist) = $PinW)""".stripMargin
    s"""WITH ser AS (
       |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
       |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1),
       |win AS (
       |  SELECT d, v,
       |         list(v) OVER (ORDER BY d ROWS BETWEEN $PinW PRECEDING AND 1 PRECEDING) AS hist
       |  FROM ser)
       |${leg("q50", 5, math.ceil(0.5 * PinW).toInt)}
       |UNION ALL
       |${leg("q90", 9, math.ceil(0.9 * PinW).toInt)}""".stripMargin
  }

  /** Per-year CUSUM changepoint over the daily-revenue series: within each
    * calendar year the split index t maximizing |m*P_t - t*S| (the CUSUM
    * statistic scaled by m to stay integer; P = prefix sum, S = year
    * total, m = days in year), excluding the trivial t=m split and
    * breaking score ties on the earliest day. Emits the boundary day (last
    * day of the left segment) plus the exact integer evidence: the scaled
    * score and floor-cents means on both sides.
    *
    * 100 TB shape: one partial-aggregate fact scan to the calendar-bounded
    * daily series; prefix sums and the argmax are year-partitioned windows
    * over that tiny relation. Nothing fact-scale ever hits a window.
    */
  def tsChangepoint(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val daily = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("v"))
      .withColumn("yr", substring(col("day"), 1, 4).cast("int"))
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("yr"))
    val cum = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("v")).over(w))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("sTot", sum(col("v")).over(wAll))
    val scored = cum
      .filter(col("t") < col("m"))
      .withColumn("score", abs(col("m") * col("p") - col("t") * col("sTot")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("yr")).orderBy(col("score").desc, col("t"))))
    scored.filter(col("rk") === 1)
      .select(
        col("yr"), col("day").as("chg_day"), col("t").as("t_star"),
        col("m").as("m_days"), col("score"),
        expr("p div t").as("mean_before_c"),
        expr("(sTot - p) div (m - t)").as("mean_after_c"))
      .orderBy(col("yr"))
  }

  val tsChangepointSql: String =
    """WITH daily AS (
      |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT CAST(substr(day, 1, 4) AS INTEGER) AS yr, day, v,
      |         CAST(row_number() OVER w AS BIGINT) AS t,
      |         CAST(sum(v) OVER w AS BIGINT) AS p,
      |         CAST(count(*) OVER (PARTITION BY substr(day, 1, 4)) AS BIGINT) AS m,
      |         CAST(sum(v) OVER (PARTITION BY substr(day, 1, 4)) AS BIGINT) AS s_tot
      |  FROM daily
      |  WINDOW w AS (PARTITION BY substr(day, 1, 4) ORDER BY day)),
      |scored AS (
      |  SELECT yr, day, t, m, s_tot, p, abs(m * p - t * s_tot) AS score,
      |         row_number() OVER (PARTITION BY yr
      |                            ORDER BY abs(m * p - t * s_tot) DESC, t) AS rk
      |  FROM cum WHERE t < m)
      |SELECT yr, day AS chg_day, t AS t_star, m AS m_days, score,
      |       p // t AS mean_before_c,
      |       (s_tot - p) // (m - t) AS mean_after_c
      |FROM scored WHERE rk = 1 ORDER BY yr""".stripMargin

  /** Holt smoothing weights as exact int/int-division doubles (a decimal
    * literal would parse as DECIMAL in DuckDB — different arithmetic;
    * CLAUDE.md model-weight rule): alpha = 3/10, beta = 1/10.
    */
  val HoltAlphaNum = 3
  val HoltBetaNum  = 1
  /** forecast horizon (days ahead) */
  val HoltH = 7

  private val holtAlpha = HoltAlphaNum.toDouble / 10
  private val holtBeta  = HoltBetaNum.toDouble / 10

  /** Holt's linear (double) exponential smoothing over each nation's daily
    * order-revenue series, with an [[HoltH]]-day-ahead forecast — the
    * engine's first FORECASTING operator. The recurrence
    *
    *   L' = a·x + (1−a)·(L+T);  T' = b·(L'−L) + (1−b)·T
    *
    * is an inherently sequential fold, so it runs as a compiled while-loop
    * over each group's day-ordered value array; the DuckDB oracle replays
    * the identical operation sequence with `list_reduce` over [L,T] pair
    * state (same trick as the LSH dot products — every op is one correctly
    * rounded IEEE double op in both engines, so the fold is bit-exact and
    * the final floors hash-gate). Weights are exact int/10 doubles.
    *
    * 100 TB shape: the fact collapses to (nation × calendar-bounded days)
    * in one partial aggregate; each group's fold state is the series
    * (thousands of doubles) — group-local, no cross-group traffic. The
    * group-partitioned collect is the standard per-entity-model shape
    * (same as BPE/perceptron training).
    */
  def tsHoltForecast(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
    val cu = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val na = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    val daily = od
      .join(broadcast(cu.join(na, col("c_nationkey") === col("n_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("v"))
    val series = daily.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_days"),
        expr("transform(sort_array(collect_list(struct(day, v))), p -> CAST(p.v AS DOUBLE))")
          .as("xs"))
      .filter(col("n_days") >= 2)
    val holt = udf { (xs: Seq[Double]) =>
      var level = xs(0)
      var trend = xs(1) - xs(0)
      var i = 1
      while (i < xs.length) {
        val l2 = holtAlpha * xs(i) + (1 - holtAlpha) * (level + trend)
        trend = holtBeta * (l2 - level) + (1 - holtBeta) * trend
        level = l2
        i += 1
      }
      (level, trend)
    }
    series.withColumn("lt", holt(col("xs")))
      .select(
        col("n_name"), col("n_days"),
        floor(col("lt._1")).cast("long").as("level_c"),
        floor(col("lt._2")).cast("long").as("trend_c"),
        floor(col("lt._1") + lit(HoltH) * col("lt._2")).cast("long").as("fc7_c"))
      .orderBy(col("n_name"))
  }

  private val tsHoltForecastSql = {
    val a = s"(CAST($HoltAlphaNum AS DOUBLE) / 10)"
    val b = s"(CAST($HoltBetaNum AS DOUBLE) / 10)"
    // L' appears twice in the lambda (for itself and inside T'); both
    // occurrences are the same expression tree, so both round identically
    val lNew = s"$a * e[1] + (1 - $a) * (acc[1] + acc[2])"
    s"""WITH daily AS (
       |  SELECT n_name, strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS day,
       |         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |series AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_days,
       |         list([CAST(v AS DOUBLE), CAST(0 AS DOUBLE)] ORDER BY day) AS xs
       |  FROM daily GROUP BY 1 HAVING count(*) >= 2),
       |folded AS (
       |  SELECT n_name, n_days,
       |         list_reduce(
       |           list_prepend([xs[1][1], xs[2][1] - xs[1][1]], xs[2:len(xs)]),
       |           (acc, e) -> [$lNew,
       |                        $b * (($lNew) - acc[1]) + (1 - $b) * acc[2]]) AS lt
       |  FROM series)
       |SELECT n_name, n_days,
       |       CAST(floor(lt[1]) AS BIGINT) AS level_c,
       |       CAST(floor(lt[2]) AS BIGINT) AS trend_c,
       |       CAST(floor(lt[1] + $HoltH * lt[2]) AS BIGINT) AS fc7_c
       |FROM folded ORDER BY n_name""".stripMargin
  }

  /** Day-of-week seasonality profile of lineitem revenue: per weekday slot
    * (days-since-epoch mod 7 — pure integer arithmetic, so the slot never
    * depends on either engine's DOW numbering; slot 4 = Sunday given epoch
    * day 0 was a Thursday), the exact dollar total, day count, and the
    * seasonal index vs the uniform-week expectation as integer ppm
    * (total·7e6 // grand — dollars not cents keep the product far from
    * 2^63 at any calendar-bounded scale).
    *
    * 100 TB shape: one partial-aggregate scan to 7 rows; the grand total
    * is a broadcast 1-row join.
    */
  def tsSeasonality(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val byDow = li
      .groupBy((datediff(to_date(col("l_shipdate")), lit("1970-01-01")) % 7).as("dow7"))
      .agg(
        count_distinct(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("n_days"),
        sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("long")).as("total_d"))
    byDow.crossJoin(broadcast(byDow.agg(sum(col("total_d")).as("grand_d"))))
      .select(
        col("dow7"), col("n_days"), col("total_d"),
        expr("total_d * 7000000 div grand_d").as("idx_ppm"))
      .orderBy(col("dow7"))
  }

  private val tsSeasonalitySql =
    """WITH by_dow AS (
      |  SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-01') % 7 AS dow7,
      |         CAST(count(DISTINCT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d')) AS BIGINT) AS n_days,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS BIGINT)) AS BIGINT) AS total_d
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(total_d) AS BIGINT) AS grand_d FROM by_dow)
      |SELECT dow7, n_days, total_d, total_d * 7000000 // grand_d AS idx_ppm
      |FROM by_dow CROSS JOIN tot ORDER BY dow7""".stripMargin

  /** DBSCAN-style density threshold: a grid cell with at least this many
    * points is dense
    */
  val DbMinPts = 4

  /** Grid-density clustering (the GriDBSCAN/STING shape) over part
    * economics: quantize (retail price → $10 cells, size → unit cells),
    * keep cells with ≥ [[DbMinPts]] points, and merge 8-adjacent dense
    * cells into clusters labeled by their minimum encoded cell id; points
    * in non-dense cells are the noise row (cluster_id −1). Cluster merging
    * runs as driver union-find over the DENSE-CELL adjacency — bounded by
    * the grid AREA, never the point count (the same metadata-scale argument
    * as Dedup's union-find fast path; a 100 TB corpus still quantizes into
    * the same fixed grid). The oracle replays the merge as a recursive
    * min-label closure over the identical adjacency.
    *
    * 100 TB shape: one partial-aggregated fact scan to grid-area-bounded
    * cell counts; everything after is cell-scale. The per-cluster stats
    * join is a broadcast of the cell→cluster map.
    */
  def clusterGridDensity(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val cells = keep(Tables.load(s, dir, "part")
      .select(floor(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("cy"))
      .select(expr("cents div 1000").as("cx"), col("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n")))
    val dense = cells.filter(col("n") >= DbMinPts)
    val local = dense.select("cx", "cy").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val idOf = local.map { case (x, y) => (x, y) -> (x * 1000 + y) }.toMap
    val parent = scala.collection.mutable.Map(idOf.values.map(v => v -> v).toSeq: _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var c = v
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((x, y) <- local; dx <- -1L to 1L; dy <- -1L to 1L
         if (dx, dy) != ((0L, 0L)); nb <- idOf.get((x + dx, y + dy))) {
      val (ra, rb) = (find(idOf((x, y))), find(nb))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = s.createDataFrame(
      local.map { case (x, y) => (x, y, find(idOf((x, y)))) }.toSeq)
      .toDF("cx", "cy", "cluster_id")
    val clustered = dense.join(broadcast(labels), Seq("cx", "cy"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_points"),
        min(col("cx")).as("min_cx"), max(col("cx")).as("max_cx"),
        min(col("cy")).as("min_cy"), max(col("cy")).as("max_cy"))
    val noise = cells.filter(col("n") < DbMinPts)
      .agg(count(lit(1)).as("n_cells"),
        coalesce(sum(col("n")), lit(0L)).as("n_points"),
        coalesce(min(col("cx")), lit(0L)).as("min_cx"),
        coalesce(max(col("cx")), lit(0L)).as("max_cx"),
        coalesce(min(col("cy")), lit(0L)).as("min_cy"),
        coalesce(max(col("cy")), lit(0L)).as("max_cy"))
      .select(lit(-1L).as("cluster_id"), col("n_cells"), col("n_points"),
        col("min_cx"), col("max_cx"), col("min_cy"), col("max_cy"))
    val out = clustered.unionAll(noise).orderBy(col("cluster_id"))
    out
  }

  private val clusterGridDensitySql =
    s"""WITH RECURSIVE cells AS (
       |  SELECT CAST(floor(p_retailprice * 100) AS BIGINT) // 1000 AS cx,
       |         CAST(p_size AS BIGINT) AS cy, CAST(count(*) AS BIGINT) AS n
       |  FROM part GROUP BY 1, 2),
       |dense AS (SELECT * FROM cells WHERE n >= $DbMinPts),
       |e AS (
       |  SELECT a.cx * 1000 + a.cy AS src, b.cx * 1000 + b.cy AS dst
       |  FROM dense a JOIN dense b
       |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       |   AND (a.cx <> b.cx OR a.cy <> b.cy)),
       |reach(cell, comp) AS (
       |  SELECT cx * 1000 + cy, cx * 1000 + cy FROM dense
       |  UNION
       |  SELECT e.src, r.comp FROM e JOIN reach r ON e.dst = r.cell),
       |lab AS (SELECT cell, min(comp) AS cluster_id FROM reach GROUP BY cell),
       |clustered AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
       |         CAST(sum(n) AS BIGINT) AS n_points,
       |         min(cx) AS min_cx, max(cx) AS max_cx,
       |         min(cy) AS min_cy, max(cy) AS max_cy
       |  FROM dense JOIN lab ON cell = cx * 1000 + cy
       |  GROUP BY 1),
       |noise AS (
       |  SELECT CAST(-1 AS BIGINT) AS cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
       |         CAST(coalesce(sum(n), 0) AS BIGINT) AS n_points,
       |         coalesce(min(cx), 0) AS min_cx, coalesce(max(cx), 0) AS max_cx,
       |         coalesce(min(cy), 0) AS min_cy, coalesce(max(cy), 0) AS max_cy
       |  FROM cells WHERE n < $DbMinPts)
       |SELECT * FROM clustered UNION ALL SELECT * FROM noise
       |ORDER BY cluster_id""".stripMargin

  /** Kaplan-Meier survival analysis of time-to-first-purchase: each user's
    * clock starts at their first event; a "death" is the first purchase day
    * offset, users with no purchase are right-censored at their last
    * observed day — the estimator that handles censoring correctly where a
    * naive mean-time-to-purchase is biased. The product-limit curve
    *
    *   S(t_i) = prod_{j<=i} (1 − d_j / n_j)
    *
    * over death times is an inherently sequential product; it folds
    * left-to-right in a compiled UDF over the day-ordered curve array and
    * the oracle replays the SAME order via per-row prefix `list_reduce`
    * (the Holt discipline: every factor is one correctly-rounded divide +
    * subtract, every product step one rounded multiply — bit-exact in both
    * engines, so even the survival probabilities hash-gate). Risk counts
    * are pure integer window arithmetic.
    *
    * 100 TB shape: one fact scan collapses to per-user (start, death,
    * censor) rows, a second aggregate to the calendar-bounded day curve;
    * the fold is curve-scale. Emits one row per death time.
    */
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val per = ev.groupBy(col("user_id")).agg(
      min(to_date(col("ts"))).as("d0"),
      min(when(col("event_type") === "purchase", to_date(col("ts")))).as("dp"),
      max(to_date(col("ts"))).as("dl"))
    val obs = per.select(
      when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
        .otherwise(datediff(col("dl"), col("d0"))).cast("long").as("t"),
      when(col("dp").isNotNull, 1L).otherwise(0L).as("death"))
    val byT = obs.groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("death")).as("d"))
    val curve = byT
      .crossJoin(broadcast(byT.agg(sum(col("c")).as("tot"))))
      .repartition(1)
      .withColumn("pid", spark_partition_id())
      .withColumn("cb", coalesce(sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("t"), (col("tot") - col("cb")).as("n_risk"), col("d"))
      .filter(col("d") > 0)
    val km = udf { (rows: Seq[Row]) =>
      var surv = 1.0
      rows.map { r =>
        val (t, n, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
        surv = surv * (1.0 - d.toDouble / n.toDouble)
        (t, n, d, math.floor(surv * 1e6).toLong)
      }
    }
    curve.agg(expr("sort_array(collect_list(struct(t, n_risk, d)))").as("cv"))
      .select(explode(km(col("cv"))).as("r"))
      .select(col("r._1").as("t"), col("r._2").as("n_risk"),
        col("r._3").as("d"), col("r._4").as("s_e6"))
      .orderBy(col("t"))
  }

  private val survivalKmSql =
    """WITH per AS (
      |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0,
      |         min(CASE WHEN event_type = 'purchase'
      |                  THEN CAST(CAST(ts AS TIMESTAMP) AS DATE) END) AS dp,
      |         max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dl
      |  FROM events GROUP BY 1),
      |obs AS (
      |  SELECT CAST(CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dl - d0 END AS BIGINT) AS t,
      |         CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM per),
      |byt AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS c, CAST(sum(death) AS BIGINT) AS d
      |  FROM obs GROUP BY 1),
      |cum AS (
      |  SELECT t, c, d,
      |         CAST(coalesce(sum(c) OVER (ORDER BY t
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
      |         (SELECT CAST(sum(c) AS BIGINT) FROM byt) AS tot
      |  FROM byt),
      |deaths AS (
      |  SELECT t, tot - cb AS n_risk, d,
      |         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
      |  FROM cum WHERE d > 0),
      |fl AS (
      |  SELECT list(1 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) ORDER BY t) AS fs
      |  FROM deaths)
      |SELECT t, n_risk, d,
      |       CAST(floor(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:i]),
      |                              (a, b) -> a * b) * 1000000) AS BIGINT) AS s_e6
      |FROM deaths CROSS JOIN fl
      |ORDER BY t""".stripMargin

  /** BFS hop limit for [[recursiveSqlReach]] */
  val RecHops = 3

  /** the recursive BFS text shared by both engines — Spark 4.1's
    * `WITH RECURSIVE` (UNION ALL + per-level `SELECT DISTINCT`) and
    * DuckDB's dialect intersect exactly on this query. The per-level
    * DISTINCT is the termination/size discipline: the recursion carries a
    * deduped FRONTIER per hop (state ≤ nodes × hops), never the path
    * multiset a naive UNION ALL walk explodes into. `edges` is a relation
    * name: the oracle binds it with a plain CTE, the engine binds it to a
    * CACHED view — a CTE referenced inside a recursive loop is
    * re-evaluated PER LEVEL, which would re-scan the fact join every hop.
    * At sf0.1 wall time is recursion-scheduling-bound either way (~5 s,
    * same as the hand-rolled BFS loop), but at scale an uncached edge CTE
    * turns a BFS into [[RecHops]]+1 full fact joins.
    */
  private def reachSqlFor(edges: String, prelude: String = ""): String =
    s"""WITH RECURSIVE $prelude
       |walk(node, hop) AS (
       |  SELECT DISTINCT u, 0 FROM $edges WHERE u % 2 = 0 AND u < 20
       |  UNION ALL
       |  SELECT DISTINCT e.v, w.hop + 1
       |  FROM walk w JOIN $edges e ON e.u = w.node WHERE w.hop < $RecHops),
       |m AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
       |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM m GROUP BY hop ORDER BY hop""".stripMargin

  private def edgeSqlFor(orders: String, lineitem: String): String =
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
       |  FROM $orders JOIN $lineitem ON l_orderkey = o_orderkey)
       |SELECT c * 2 AS u, sk * 2 + 1 AS v FROM cs
       |UNION ALL
       |SELECT sk * 2 + 1 AS u, c * 2 AS v FROM cs""".stripMargin

  /** Graph reachability expressed as a SINGLE recursive SQL query — the
    * SQL:1999 hierarchical-query surface (Spark 4.1 `WITH RECURSIVE`),
    * dialect-identical to the oracle: the same statement text runs on both
    * engines. Semantically the same per-hop frontier BFS as
    * [[Graph.reach]] (seeds: customers with key < 10, [[RecHops]] hops,
    * min-hop labeling), but driven entirely by the engine's recursion
    * operator instead of a driver loop — proving the engine serves
    * recursive analytics to plain-SQL clients (Thrift/JDBC included).
    *
    * 100 TB shape: each recursion level is one join + distinct of the
    * node-sized frontier against the edge relation — the same per-round
    * cost as the hand-rolled BFS; recursion state is frontier-bounded by
    * the per-level DISTINCT.
    */
  def recursiveSqlReach(s: SparkSession, dir: String): DataFrame = Localize { _ =>
    // bind the recursion's edge relation to the Graph pack's MEMOIZED
    // session-cached purchase edges — the exact same bipartite relation
    // ([[edgeSqlFor]] ≡ Graph.purchaseEdges row for row), shared with the
    // seven hand-rolled graph loops (guide §2.4: one expensive base, many
    // consumers; previously each call re-ran the fact join + its own
    // cache build). The recursion still re-reads the relation per level,
    // which is why it must be the cached view and never a plain CTE.
    val edges = Graph.purchaseEdges(s, dir).select(col("u"), col("v"))
    edges.createOrReplaceTempView("edges_rec")
    s.sql(reachSqlFor("edges_rec"))
  }

  /** Bounded-state EXACT distinct via a roaring-style bitmap aggregate
    * (ClickHouse's groupBitmap idiom): the buffer is a growable Long
    * bitset over the bounded user-id domain; reduce sets a bit, merge is
    * word-wise OR — commutative/associative, so map-side partial
    * aggregation applies and the count is exact at O(domain/64) state per
    * group, REGARDLESS of row count. The exactness/state trade sits
    * between the exact value-distinct shuffle (state ∝ NDV rows) and the
    * KMV/HLL sketches (state O(K), approximate): when the id domain is
    * known and bounded, the bitmap is strictly better than both.
    */
  object BitmapAgg extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Long] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], id: Long): Array[Long] = {
      val w = (id >>> 6).toInt
      val out = if (w >= b.length) java.util.Arrays.copyOf(b, w + 1) else b
      out(w) |= 1L << (id & 63)
      out
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      if (x.length < y.length) merge(y, x)
      else {
        var i = 0
        while (i < y.length) { x(i) |= y(i); i += 1 }
        x
      }
    }
    def finish(b: Array[Long]): Long = {
      var n = 0L; var i = 0
      while (i < b.length) { n += java.lang.Long.bitCount(b(i)); i += 1 }
      n
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  private lazy val bitmapDistinct = udaf(BitmapAgg)

  /** Weekly active users via [[BitmapAgg]] — exact distinct counts whose
    * per-group state never exceeds domain/64 longs (no per-value shuffle
    * rows, unlike `count(DISTINCT ...)`'s two-level rewrite). The oracle is
    * the plain COUNT(DISTINCT): the hash gate proves the bitmap path exact.
    * Weeks are epoch-day div 7 (integer, engine-DOW-agnostic, same
    * convention as [[tsSeasonality]]).
    */
  def bitmapDistinctWeekly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.groupBy(expr("CAST(datediff(to_date(ts), '1970-01-01') AS BIGINT) div 7")
        .as("week"))
      .agg(count(lit(1)).as("n_events"),
        bitmapDistinct(col("user_id")).as("n_users"))
      .orderBy(col("week"))
  }

  private val bitmapDistinctWeeklySql =
    """SELECT CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS BIGINT) // 7 AS week,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1 ORDER BY week""".stripMargin

  /** half-window for [[tsPeaks]] neighborhoods */
  val PeakW = 3
  /** minimum prominence vs the neighborhood in ppm of the peak value */
  val PeakPromPpm = 50000L

  /** Local-peak detection over the daily-revenue series: a day is a peak
    * when it strictly dominates every neighbor within ±[[PeakW]] index
    * positions AND its prominence over the neighborhood's best other day
    * clears [[PeakPromPpm]] (5%) — the spike-surfacing companion of
    * [[tsChangepoint]] (level shifts) and [[tsAcf]] (periodicity). All
    * comparisons are integer; prominence is the exact ppm ratio of two
    * BIGINT cents values. RANGE-free: neighborhoods are ROWS frames on the
    * index, so gaps in the calendar cannot widen a window silently.
    *
    * 100 TB shape: fact → calendar-bounded daily series (one partial agg);
    * the max-window and filter are series-scale.
    */
  def tsPeaks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val daily = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("v"))
    val base = daily.repartition(1).withColumn("pid", spark_partition_id())
    val ord = Window.partitionBy(col("pid")).orderBy(col("day"))
    val wL = ord.rowsBetween(-PeakW, -1)
    val wR = ord.rowsBetween(1, PeakW)
    // self-excluding neighborhood: the best OTHER day is
    // greatest(left max, right max) — strict dominance needs no tie logic
    base
      .withColumn("lmax", max(col("v")).over(wL))
      .withColumn("rmax", max(col("v")).over(wR))
      .withColumn("lcnt", count(lit(1)).over(wL))
      .withColumn("rcnt", count(lit(1)).over(wR))
      .filter(col("lcnt") === PeakW && col("rcnt") === PeakW)
      .withColumn("runner_up", greatest(col("lmax"), col("rmax")))
      .filter(col("v") > col("runner_up") &&
        (col("v") - col("runner_up")) * 1000000L >= col("v") * PeakPromPpm)
      .select(col("day"), col("v"), col("runner_up"),
        expr("(v - runner_up) * 1000000 div v").as("prominence_ppm"))
      .orderBy(col("day"))
  }

  private val tsPeaksSql =
    s"""WITH daily AS (
       |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS day,
       |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1),
       |nb AS (
       |  SELECT day, v,
       |         CAST(max(v) OVER wl AS BIGINT) AS lmax,
       |         CAST(max(v) OVER wr AS BIGINT) AS rmax,
       |         CAST(count(*) OVER wl AS BIGINT) AS lcnt,
       |         CAST(count(*) OVER wr AS BIGINT) AS rcnt
       |  FROM daily
       |  WINDOW wl AS (ORDER BY day ROWS BETWEEN $PeakW PRECEDING AND 1 PRECEDING),
       |         wr AS (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND $PeakW FOLLOWING)),
       |full_nb AS (
       |  SELECT day, v, greatest(lmax, rmax) AS runner_up
       |  FROM nb WHERE lcnt = $PeakW AND rcnt = $PeakW)
       |SELECT day, v, runner_up,
       |       (v - runner_up) * 1000000 // v AS prominence_ppm
       |FROM full_nb
       |WHERE v > runner_up AND (v - runner_up) * 1000000 >= v * $PeakPromPpm
       |ORDER BY day""".stripMargin

  /** Decision-stump training (one-split tree, CART step): exhaustive split
    * search over the feature's value domain, maximizing
    *
    *   score(t) = Σ_c nL_c²/nL + Σ_c nR_c²/nR
    *
    * (equivalent to minimizing weighted Gini impurity). Class counts per
    * candidate threshold come from ONE scan: per-value class counts, then
    * a cumulative window over the NDV-bounded value domain — never a
    * per-threshold re-scan. Squares/sums stay exact int64; each side's
    * term is one correctly-rounded division and the sum a fixed two-op
    * sequence, identical text in both engines; the argmax tie-breaks on
    * the threshold. Emits the split, both leaves' class histograms,
    * majority votes, and the floor-milli score.
    *
    * 100 TB shape: fact → (value × class) counts map-side; everything
    * after is value-domain-scale. This is how real tree trainers batch
    * split search (XGBoost's exact greedy mode).
    */
  def stumpTrain(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val byQ = li.groupBy(col("l_quantity").cast("long").as("q"))
      .agg(
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("a"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
    val w = Window.partitionBy(col("pid")).orderBy(col("q"))
    val cum = byQ.repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("la", sum(col("a")).over(w))
      .withColumn("ln", sum(col("n")).over(w))
      .withColumn("lr", sum(col("r")).over(w))
      .crossJoin(broadcast(byQ.agg(
        sum(col("a")).as("ta"), sum(col("n")).as("tn"), sum(col("r")).as("tr"))))
      .select(col("q"), col("la"), col("ln"), col("lr"),
        (col("ta") - col("la")).as("ra"), (col("tn") - col("ln")).as("rn"),
        (col("tr") - col("lr")).as("rr"))
      .filter(col("ra") + col("rn") + col("rr") > 0)
    val scored = cum.select(col("*"),
      (col("la") + col("ln") + col("lr")).as("n_left"),
      (col("ra") + col("rn") + col("rr")).as("n_right"),
      expr("""CAST(la*la + ln*ln + lr*lr AS DOUBLE) / (la + ln + lr)
             | + CAST(ra*ra + rn*rn + rr*rr AS DOUBLE) / (ra + rn + rr)"""
        .stripMargin).as("score"))
    scored
      .orderBy(col("score").desc, col("q"))
      .limit(1)
      .select(
        col("q").as("split_q"), col("n_left"), col("n_right"),
        col("la"), col("ln"), col("lr"), col("ra"), col("rn"), col("rr"),
        expr("""CASE WHEN la >= ln AND la >= lr THEN 'A'
               |     WHEN ln >= lr THEN 'N' ELSE 'R' END""".stripMargin).as("left_vote"),
        expr("""CASE WHEN ra >= rn AND ra >= rr THEN 'A'
               |     WHEN rn >= rr THEN 'N' ELSE 'R' END""".stripMargin).as("right_vote"),
        floor(col("score") * 1000).cast("long").as("score_milli"))
  }

  private val stumpTrainSql =
    """WITH byq AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT q,
      |         CAST(sum(a) OVER w AS BIGINT) AS la,
      |         CAST(sum(n) OVER w AS BIGINT) AS ln,
      |         CAST(sum(r) OVER w AS BIGINT) AS lr,
      |         (SELECT CAST(sum(a) AS BIGINT) FROM byq) - CAST(sum(a) OVER w AS BIGINT) AS ra,
      |         (SELECT CAST(sum(n) AS BIGINT) FROM byq) - CAST(sum(n) OVER w AS BIGINT) AS rn,
      |         (SELECT CAST(sum(r) AS BIGINT) FROM byq) - CAST(sum(r) OVER w AS BIGINT) AS rr
      |  FROM byq
      |  WINDOW w AS (ORDER BY q)),
      |scored AS (
      |  SELECT q, la, ln, lr, ra, rn, rr,
      |         la + ln + lr AS n_left, ra + rn + rr AS n_right,
      |         CAST(la*la + ln*ln + lr*lr AS DOUBLE) / (la + ln + lr)
      |           + CAST(ra*ra + rn*rn + rr*rr AS DOUBLE) / (ra + rn + rr) AS score
      |  FROM cum WHERE ra + rn + rr > 0)
      |SELECT q AS split_q, n_left, n_right, la, ln, lr, ra, rn, rr,
      |       CASE WHEN la >= ln AND la >= lr THEN 'A'
      |            WHEN ln >= lr THEN 'N' ELSE 'R' END AS left_vote,
      |       CASE WHEN ra >= rn AND ra >= rr THEN 'A'
      |            WHEN rn >= rr THEN 'N' ELSE 'R' END AS right_vote,
      |       CAST(floor(score * 1000) AS BIGINT) AS score_milli
      |FROM scored ORDER BY score DESC, q LIMIT 1""".stripMargin

  /** Mann-Kendall trend test over MONTHLY revenue — the nonparametric
    * significance companion of Theil-Sen (which estimates the slope, but
    * never says whether it's distinguishable from noise):
    *
    *   S = Σ_{i<j} sign(x_j − x_i),   Var(S) = n(n−1)(2n+5)/18
    *
    * (no-ties variance form; the month series' exact cents sums never tie
    * in practice, and tied pairs contribute 0 to S either way). S and the
    * 18·Var numerator stay integer; the z-score uses the continuity
    * correction and ONE division by the correctly-rounded sqrt — the
    * ab_significance discipline, emitted floor-milli with the 1.96
    * verdict.
    *
    * 100 TB shape: fact → calendar-bounded monthly series; the pair
    * self-join is series²-bounded (≤ thousands² rows), never fact-scale.
    */
  def tsMannKendall(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val monthly = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("v"))
    val pairs = monthly.as("a").join(monthly.as("b"), col("a.m") < col("b.m"))
      .select(signum(col("b.v") - col("a.v")).cast("long").as("sg"))
    pairs.agg(sum(col("sg")).as("s_stat"))
      .crossJoin(broadcast(monthly.agg(count(lit(1)).as("n"))))
      .select(
        col("n"), col("s_stat"),
        expr("n * (n - 1) * (2 * n + 5) div 18").as("var_s"),
        expr("""CAST(floor(
               |  (CAST(s_stat AS DOUBLE) - CAST(CASE WHEN s_stat > 0 THEN 1
               |       WHEN s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE))
               |  / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18) * 1000)
               | AS BIGINT)""".stripMargin).as("z_milli"))
      .withColumn("significant_05",
        when(abs(col("z_milli")) >= 1960L, 1L).otherwise(0L))
  }

  private val tsMannKendallSql =
    """WITH monthly AS (
      |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS m,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1),
      |pairs AS (
      |  SELECT CAST(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS BIGINT) AS sg
      |  FROM monthly a JOIN monthly b ON a.m < b.m),
      |agg AS (
      |  SELECT CAST(sum(sg) AS BIGINT) AS s_stat,
      |         (SELECT CAST(count(*) AS BIGINT) FROM monthly) AS n
      |  FROM pairs)
      |SELECT n, s_stat,
      |       n * (n - 1) * (2 * n + 5) // 18 AS var_s,
      |       CAST(floor(
      |         (CAST(s_stat AS DOUBLE) - CAST(CASE WHEN s_stat > 0 THEN 1
      |              WHEN s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE))
      |         / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18) * 1000)
      |        AS BIGINT) AS z_milli,
      |       CAST(CASE WHEN abs(CAST(floor(
      |         (CAST(s_stat AS DOUBLE) - CAST(CASE WHEN s_stat > 0 THEN 1
      |              WHEN s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE))
      |         / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18) * 1000)
      |        AS BIGINT)) >= 1960 THEN 1 ELSE 0 END AS BIGINT) AS significant_05
      |FROM agg""".stripMargin

  /** Depth-2 decision tree: the [[stumpTrain]] split step applied
    * recursively — root split on l_quantity, then each child re-splits on
    * ITS OWN rows (p_size via the part dim — a different feature per
    * level, the CART shape). Every split search is the same one-scan
    * cumulative-window argmax; the children's searches run on the
    * root-filtered relation, so the whole tree costs three scans of
    * value-domain-bounded histograms. The oracle recomputes the root split
    * as a scalar subquery and replays both child searches — tree induction
    * end-to-end under the hash gate. Output: one row per node with its
    * split, sizes, class histogram, and purity gain.
    */
  def treeDepth2(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val li = Tables.load(s, dir, "lineitem")
    val pt = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_size"))
    val base = keep(li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select(col("l_quantity").cast("long").as("x1"),
        col("p_size").cast("long").as("x2"), col("l_returnflag").as("y")))

    def bestSplit(df: DataFrame, feat: String): (Long, Double) = {
      val byV = df.groupBy(col(feat).as("q"))
        .agg(
          sum(when(col("y") === "A", 1L).otherwise(0L)).as("a"),
          sum(when(col("y") === "N", 1L).otherwise(0L)).as("n"),
          sum(when(col("y") === "R", 1L).otherwise(0L)).as("r"))
      val w = Window.partitionBy(col("pid")).orderBy(col("q"))
      val best = byV.repartition(1).withColumn("pid", spark_partition_id())
        .withColumn("la", sum(col("a")).over(w))
        .withColumn("ln", sum(col("n")).over(w))
        .withColumn("lr", sum(col("r")).over(w))
        .crossJoin(broadcast(byV.agg(
          sum(col("a")).as("ta"), sum(col("n")).as("tn"), sum(col("r")).as("tr"))))
        .select(col("q"), col("la"), col("ln"), col("lr"),
          (col("ta") - col("la")).as("ra"), (col("tn") - col("ln")).as("rn"),
          (col("tr") - col("lr")).as("rr"))
        .filter(col("ra") + col("rn") + col("rr") > 0)
        .select(col("q"),
          expr("""CAST(la*la + ln*ln + lr*lr AS DOUBLE) / (la + ln + lr)
                 | + CAST(ra*ra + rn*rn + rr*rr AS DOUBLE) / (ra + rn + rr)"""
            .stripMargin).as("score"))
        .orderBy(col("score").desc, col("q"))
        .limit(1).collect()(0)
      (best.getLong(0), best.getDouble(1))
    }

    def nodeRow(df: DataFrame, node: String, feat: String, split: Long, score: Double) =
      df.agg(
        sum(when(col("y") === "A", 1L).otherwise(0L)).as("a"),
        sum(when(col("y") === "N", 1L).otherwise(0L)).as("n"),
        sum(when(col("y") === "R", 1L).otherwise(0L)).as("r"))
        .select(lit(node).as("node"), lit(feat).as("feature"),
          lit(split).as("split_at"),
          (col("a") + col("n") + col("r")).as("n_rows"),
          col("a"), col("n"), col("r"),
          lit(math.floor(score * 1000).toLong).as("score_milli"))

    val (q1, s1) = bestSplit(base, "x1")
    val left = base.filter(col("x1") <= q1)
    val right = base.filter(col("x1") > q1)
    val (qL, sL) = bestSplit(left, "x2")
    val (qR, sR) = bestSplit(right, "x2")
    val out = nodeRow(base, "root", "l_quantity", q1, s1)
      .unionAll(nodeRow(left, "left", "p_size", qL, sL))
      .unionAll(nodeRow(right, "right", "p_size", qR, sR))
      .orderBy(col("node"))
    out
  }

  private val treeDepth2Sql = {
    // shared building block: best split of <rel> on <feat> (scalar argmax)
    def searchCtes(rel: String, feat: String, p: String): String =
      s"""${p}byv AS (
         |  SELECT $feat AS q,
         |         CAST(sum(CASE WHEN y = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |         CAST(sum(CASE WHEN y = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN y = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
         |  FROM $rel GROUP BY 1),
         |${p}cum AS (
         |  SELECT q,
         |         CAST(sum(a) OVER w AS BIGINT) AS la,
         |         CAST(sum(n) OVER w AS BIGINT) AS ln,
         |         CAST(sum(r) OVER w AS BIGINT) AS lr,
         |         (SELECT CAST(sum(a) AS BIGINT) FROM ${p}byv) - CAST(sum(a) OVER w AS BIGINT) AS ra,
         |         (SELECT CAST(sum(n) AS BIGINT) FROM ${p}byv) - CAST(sum(n) OVER w AS BIGINT) AS rn,
         |         (SELECT CAST(sum(r) AS BIGINT) FROM ${p}byv) - CAST(sum(r) OVER w AS BIGINT) AS rr
         |  FROM ${p}byv WINDOW w AS (ORDER BY q)),
         |${p}best AS (
         |  SELECT q, CAST(la*la + ln*ln + lr*lr AS DOUBLE) / (la + ln + lr)
         |            + CAST(ra*ra + rn*rn + rr*rr AS DOUBLE) / (ra + rn + rr) AS score
         |  FROM ${p}cum WHERE ra + rn + rr > 0
         |  ORDER BY score DESC, q LIMIT 1)""".stripMargin
    def nodeSel(rel: String, node: String, feat: String, p: String): String =
      s"""SELECT '$node' AS node, '$feat' AS feature,
         |       (SELECT q FROM ${p}best) AS split_at,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN y = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |       CAST(sum(CASE WHEN y = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN y = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r,
         |       (SELECT CAST(floor(score * 1000) AS BIGINT) FROM ${p}best) AS score_milli
         |FROM $rel""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS x1, CAST(p_size AS BIGINT) AS x2,
       |         l_returnflag AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |${searchCtes("base", "x1", "rt")},
       |lf AS (SELECT * FROM base WHERE x1 <= (SELECT q FROM rtbest)),
       |rg AS (SELECT * FROM base WHERE x1 > (SELECT q FROM rtbest)),
       |${searchCtes("lf", "x2", "lf")},
       |${searchCtes("rg", "x2", "rg")}
       |${nodeSel("base", "root", "l_quantity", "rt")}
       |UNION ALL
       |${nodeSel("lf", "left", "p_size", "lf")}
       |UNION ALL
       |${nodeSel("rg", "right", "p_size", "rg")}
       |ORDER BY node""".stripMargin
  }

  /** Additive seasonal decomposition of the daily revenue series (the
    * classical-decomposition shape STL refines): trend = centered 7-day
    * moving average (full windows only, floor-cents), seasonal = per
    * weekday-slot floor-mean of the detrended series (pmod floor division
    * — detrended values go negative), residual = the exact remainder.
    * v = trend + seasonal + residual holds EXACTLY by construction
    * (residual is defined as the difference), so the decomposition is
    * all-integer and hash-gates row by row.
    *
    * 100 TB shape: fact → calendar-bounded daily series; ROWS-frame MA and
    * the 7-row seasonal join are series-scale.
    */
  def tsDecompose(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val daily = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("v"))
    val w = Window.partitionBy(col("pid")).orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily.repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("wsum", sum(col("v")).over(w))
      .withColumn("wcnt", count(lit(1)).over(w))
      .filter(col("wcnt") === 7)
      .select(col("day"), col("v"),
        expr("wsum div 7").as("trend_c"),
        (col("day").substr(1, 4)).as("yr"))
      .withColumn("detr", col("v") - col("trend_c"))
      .withColumn("dow7",
        expr("CAST(datediff(to_date(day), '1970-01-01') AS BIGINT) % 7"))
    val seasonal = trended.groupBy(col("dow7"))
      .agg(sum(col("detr")).as("sd"), count(lit(1)).as("sc"))
      .select(col("dow7"),
        expr("(sd - pmod(sd, sc)) div sc").as("seasonal_c"))
    trended.join(broadcast(seasonal), Seq("dow7"))
      .select(col("day"), col("v"), col("trend_c"), col("seasonal_c"),
        (col("detr") - col("seasonal_c")).as("resid_c"))
      .orderBy(col("day"))
  }

  /** The decomposition CTE chain (`daily`→`tr`→`dt`→`seas`) plus a final
    * `resid` CTE holding the decomposed rows — shared VERBATIM by
    * [[tsDecomposeSql]] and [[tsResidualOutliersSql]] so an edit to the
    * decomposition can never silently desynchronize the two oracles (the
    * previous string-surgery derivation became a no-op on any text drift).
    */
  private val tsDecomposeCtes =
    """daily AS (
      |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1),
      |tr AS (
      |  SELECT day, v,
      |         CAST(sum(v) OVER w AS BIGINT) AS wsum,
      |         CAST(count(*) OVER w AS BIGINT) AS wcnt
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (
      |  SELECT day, v, wsum // 7 AS trend_c, v - wsum // 7 AS detr,
      |         CAST((CAST(day AS DATE) - DATE '1970-01-01') AS BIGINT) % 7 AS dow7
      |  FROM tr WHERE wcnt = 7),
      |seas AS (
      |  SELECT dow7,
      |         (CAST(sum(detr) AS BIGINT)
      |          - ((CAST(sum(detr) AS BIGINT) % count(*) + count(*)) % count(*)))
      |         // count(*) AS seasonal_c
      |  FROM dt GROUP BY 1),
      |resid AS (
      |  SELECT day, v, trend_c, seasonal_c, detr - seasonal_c AS resid_c
      |  FROM dt JOIN seas USING (dow7))""".stripMargin

  private val tsDecomposeSql =
    s"""WITH $tsDecomposeCtes
      |SELECT day, v, trend_c, seasonal_c, resid_c
      |FROM resid
      |ORDER BY day""".stripMargin

  /** MAD multiple above which a residual is flagged anomalous */
  val ResidMadK = 5L

  /** anomaly rows emitted (ranked worst-first, flagged against the cut) */
  val ResidTopK = 10

  /** Seasonal-adjusted anomaly detection — the monitoring op raw-value
    * thresholds get wrong twice (weekend dips page, in-season spikes hide):
    * residuals from [[tsDecompose]]'s exact trend+seasonal fit, centered by
    * their exact median and scored against the residual MAD (both via the
    * pinned ceil-rank rule on sorted rows — `rn·2 ≥ n` IS rank ceil(n/2)).
    * Emits the [[ResidTopK]] largest deviations ranked worst-first with the
    * `|r − med| > K·MAD` verdict alongside — a ranked anomaly queue that
    * stays useful (and non-empty) on quiet series instead of going silent.
    *
    * 100 TB shape: everything beyond the one fact scan inside tsDecompose
    * runs on the calendar-bounded daily relation; the median/MAD windows
    * ride the [[tsDecompose]] single-partition idiom (constant-0 pid
    * partition, opaque to constant folding).
    */
  def tsResidualOutliers(s: SparkSession, dir: String): DataFrame = {
    val base = tsDecompose(s, dir)
    val one = base.repartition(1).withColumn("pid", spark_partition_id())
    val wp = Window.partitionBy(col("pid"))
    val wr = Window.partitionBy(col("pid")).orderBy(col("resid_c"), col("day"))
    val withMed = one
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("med_c", min(when(col("rn") * 2 >= col("n"), col("resid_c"))).over(wp))
      .withColumn("dev_c", abs(col("resid_c") - col("med_c")))
    val wd = Window.partitionBy(col("pid")).orderBy(col("dev_c"), col("day"))
    val withMad = withMed
      .withColumn("rd", row_number().over(wd).cast("long"))
      .withColumn("mad_c", min(when(col("rd") * 2 >= col("n"), col("dev_c"))).over(wp))
    withMad
      .select(col("day"), col("v"), col("resid_c"), col("med_c"),
        col("mad_c"), col("dev_c"),
        when(col("dev_c") > lit(ResidMadK) * col("mad_c"), 1L).otherwise(0L)
          .as("is_anomaly"))
      .orderBy(col("dev_c").desc, col("day"))
      .limit(ResidTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("dev_c").desc, col("day"))).cast("long"))
  }

  val tsResidualOutliersSql: String = {
    s"""WITH $tsDecomposeCtes,
      |withmed AS (
      |  SELECT day, v, resid_c,
      |         CAST(row_number() OVER (ORDER BY resid_c, day) AS BIGINT) AS rn,
      |         CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM resid),
      |med AS (
      |  SELECT *, CAST(min(CASE WHEN rn * 2 >= n THEN resid_c END) OVER () AS BIGINT) AS med_c
      |  FROM withmed),
      |dev AS (
      |  SELECT *, abs(resid_c - med_c) AS dev_c,
      |         CAST(row_number() OVER (ORDER BY abs(resid_c - med_c), day) AS BIGINT) AS rd
      |  FROM med),
      |mad AS (
      |  SELECT *, CAST(min(CASE WHEN rd * 2 >= n THEN dev_c END) OVER () AS BIGINT) AS mad_c
      |  FROM dev)
      |SELECT day, v, resid_c, med_c, mad_c, dev_c,
      |       CAST(CASE WHEN dev_c > $ResidMadK * mad_c THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly,
      |       rank
      |FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY dev_c DESC, day) AS BIGINT) AS rank
      |  FROM mad)
      |WHERE rank <= $ResidTopK
      |ORDER BY rank""".stripMargin
  }

  /** Price (discount) elasticity of demand via the WITHIN estimator — the
    * fixed-effects regression of quantity on discount that uses ONLY
    * within-part variation, so cross-part confounders (a cheap part selling
    * more for being cheap) cancel by construction:
    * slope = Σ_p (n_p·Σxy_p − Σx_p·Σy_p) / Σ_p (n_p·Σx²_p − (Σx_p)²),
    * every sufficient statistic an exact int64 (discount as integer pct,
    * quantity integer-valued), the pooled slope ONE correctly-rounded
    * division plus a floor-milli twin. Parts with a single observed
    * discount level contribute zero to both sums (no within variation) and
    * are counted out. The "how much does a deeper discount move volume"
    * readout behind markdown planning.
    *
    * 100 TB shape: one fact partial-aggregate to per-part sufficient
    * statistics, then a part-domain reduce; nothing else.
    */
  def priceElasticity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(floor(l_discount * 100) AS BIGINT)").as("x"),
        expr("CAST(floor(l_quantity) AS BIGINT)").as("y"))
    val per = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"))
      .select(col("l_partkey"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sx2") - col("sx") * col("sx")).as("den"))
    per.agg(
        sum(when(col("den") > 0, 1L).otherwise(0L)).as("n_parts_used"),
        sum(col("num")).as("num_total"),
        sum(col("den")).as("den_total"))
      .select(col("n_parts_used"), col("num_total"), col("den_total"),
        expr("CASE WHEN den_total > 0 THEN CAST(num_total AS DOUBLE) / den_total END")
          .as("elasticity_qty_per_pct"),
        expr("""CASE WHEN den_total > 0 THEN
               |CAST(floor(CAST(num_total AS DOUBLE) / den_total * 1000) AS BIGINT) END""".stripMargin)
          .as("elasticity_milli"))
  }

  private val priceElasticitySql =
    """WITH li AS (
      |  SELECT l_partkey,
      |         CAST(floor(l_discount * 100) AS BIGINT) AS x,
      |         CAST(floor(l_quantity) AS BIGINT) AS y
      |  FROM lineitem),
      |per AS (
      |  SELECT l_partkey,
      |         CAST(count(*) AS BIGINT) * CAST(sum(x * y) AS BIGINT)
      |           - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT) AS num,
      |         CAST(count(*) AS BIGINT) * CAST(sum(x * x) AS BIGINT)
      |           - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT) AS den
      |  FROM li GROUP BY 1)
      |SELECT CAST(sum(CASE WHEN den > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_used,
      |       CAST(sum(num) AS BIGINT) AS num_total,
      |       CAST(sum(den) AS BIGINT) AS den_total,
      |       CASE WHEN CAST(sum(den) AS BIGINT) > 0
      |            THEN CAST(CAST(sum(num) AS BIGINT) AS DOUBLE) / CAST(sum(den) AS BIGINT)
      |       END AS elasticity_qty_per_pct,
      |       CASE WHEN CAST(sum(den) AS BIGINT) > 0
      |            THEN CAST(floor(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
      |                            / CAST(sum(den) AS BIGINT) * 1000) AS BIGINT)
      |       END AS elasticity_milli
      |FROM per""".stripMargin

  /** Holt-Winters additive triple-exponential smoothing over the global
    * daily-revenue series — the seasonal completion of [[tsHoltForecast]]
    * (level + trend + a 7-slot weekly seasonal state). Weights are spelled
    * as exact divisions (α=1/2, β=1/5, γ=1/10: `x/2`, `x/5 + t − t/5`,
    * `x/10 + s − s/10`) in ONE fixed operation sequence, and the 9-scalar
    * state [L, T, S₁..S₇] folds left-to-right — the compiled while-loop is
    * bit-identical to the oracle's `list_reduce` over 9-element lists with
    * the seasonal slot ROTATED each step (head = the slot due now), so even
    * the smoothed DOUBLE forecasts hash-gate (the CLAUDE.md fold-replay
    * rule at its widest state yet). Emits the 7-day-ahead forecast fan.
    *
    * 100 TB shape: the fact collapses to the calendar-bounded daily series
    * in one partial aggregate; the fold is a per-series array pass
    * (inherently sequential — that's the model, not the plan).
    */
  def tsHwForecast(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val daily = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("v"))
    val series = daily.agg(
      count(lit(1)).as("n_days"),
      expr("transform(sort_array(collect_list(struct(day, v))), p -> CAST(p.v AS DOUBLE))")
        .as("xs"))
      .filter(col("n_days") >= 8)
    val hw = udf { xs: Seq[Double] =>
      var lsum = 0.0
      var i = 0
      while (i < 7) { lsum += xs(i); i += 1 }
      var level = lsum / 7
      var trend = 0.0
      val sArr = Array.tabulate(7)(j => xs(j) - level)
      var t = 7
      while (t < xs.length) {
        val sOld = sArr(t % 7)
        val lNew = (xs(t) - sOld) / 2 + (level + trend) / 2
        val tNew = (lNew - level) / 5 + trend - trend / 5
        val sNew = (xs(t) - lNew) / 10 + sOld - sOld / 10
        sArr(t % 7) = sNew; level = lNew; trend = tNew; t += 1
      }
      val n = xs.length
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array.tabulate(7)(h0 => level + (h0 + 1) * trend + sArr((n + h0) % 7)))
    }
    series.select(col("n_days"), posexplode(hw(col("xs"))).as(Seq("h0", "forecast")))
      .select((col("h0") + 1).cast("long").as("h"), col("n_days"), col("forecast"))
      .orderBy(col("h"))
  }

  private val tsHwForecastSql = {
    // L' is written out twice (for itself and inside T'/S'): identical
    // expression trees round identically, matching the Scala single-compute
    val lNew = "(e[1] - acc[3]) / 2 + (acc[1] + acc[2]) / 2"
    s"""WITH daily AS (
      |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1),
      |xs AS (SELECT list(CAST(v AS DOUBLE) ORDER BY day) AS l,
      |              CAST(count(*) AS BIGINT) AS n_days
      |       FROM daily HAVING count(*) >= 8),
      |ini AS (
      |  SELECT l, n_days,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE), l[1:7]), (a, v) -> a + v) / 7 AS l0
      |  FROM xs),
      |st AS (
      |  SELECT n_days,
      |         list_reduce(
      |           list_prepend(
      |             [l0, CAST(0 AS DOUBLE), l[1] - l0, l[2] - l0, l[3] - l0,
      |              l[4] - l0, l[5] - l0, l[6] - l0, l[7] - l0],
      |             [[x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |               CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |               CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]
      |              for x in l[8:len(l)]]),
      |           (acc, e) -> [
      |             $lNew,
      |             (($lNew) - acc[1]) / 5 + acc[2] - acc[2] / 5,
      |             acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
      |             (e[1] - ($lNew)) / 10 + acc[3] - acc[3] / 10]) AS st
      |  FROM ini)
      |SELECT CAST(h AS BIGINT) AS h, n_days,
      |       st[1] + h * st[2] + st[2 + h] AS forecast
      |FROM st, range(1, 8) t(h)
      |ORDER BY h""".stripMargin
  }

  /** balance ceiling for [[cappedRunningBalance]] (milli-units) */
  val BalCap = 1000000L

  /** Capped running balance per user — the textbook NON-LINEAR running
    * aggregate (inventory with capacity, credit with a ceiling, leaky
    * bucket):
    *
    *   b_t = least(Cap, greatest(0, b_{t-1} + delta_t))
    *
    * which NO window frame can express (the clamp makes it
    * non-associative, history-dependent at every step). It runs as the
    * Holt-style compiled fold over each user's day-ordered delta array;
    * the oracle replays per row with prefix `list_reduce` and the
    * identical least/greatest ops — all INTEGER, so the whole trajectory
    * hash-gates. Deltas: purchases add, errors subtract.
    *
    * 100 TB shape: one (user, day) aggregate, then per-user folds over
    * calendar-bounded arrays — group-local, no cross-user traffic.
    */
  def cappedRunningBalance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val daily = ev.filter(col("event_type").isin("purchase", "error"))
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1000).cast("long"))
        .otherwise(-floor(col("value") * 1000).cast("long"))).as("delta_mc"))
    val fold = udf { (rows: Seq[Row]) =>
      var b = 0L
      rows.map { r =>
        val (day, d) = (r.getString(0), r.getLong(1))
        b = math.min(BalCap, math.max(0L, b + d))
        (day, d, b)
      }
    }
    daily.groupBy(col("user_id"))
      .agg(expr("sort_array(collect_list(struct(day, delta_mc)))").as("ds"))
      .select(col("user_id"), explode(fold(col("ds"))).as("r"))
      .select(col("user_id"), col("r._1").as("day"), col("r._2").as("delta_mc"),
        col("r._3").as("balance_mc"))
  }

  private val cappedRunningBalanceSql =
    s"""WITH daily AS (
       |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |         CAST(sum(CASE WHEN event_type = 'purchase'
       |                       THEN CAST(floor(value * 1000) AS BIGINT)
       |                       ELSE -CAST(floor(value * 1000) AS BIGINT) END) AS BIGINT) AS delta_mc
       |  FROM events WHERE event_type IN ('purchase', 'error')
       |  GROUP BY 1, 2),
       |seq AS (
       |  SELECT user_id, day, delta_mc,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS i
       |  FROM daily),
       |arr AS (
       |  SELECT user_id, list(delta_mc ORDER BY day) AS ds FROM daily GROUP BY 1)
       |SELECT s.user_id, s.day, s.delta_mc,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), ds[1:i]),
       |         (a, b) -> least($BalCap, greatest(0, a + b))) AS balance_mc
       |FROM seq s JOIN arr USING (user_id)""".stripMargin

  // ---------------------------------------------------------------------------
  // Matrix profile — motif + discord discovery (Yeh et al., ICDM 2016 shape)
  // ---------------------------------------------------------------------------

  /** motif window length (weeks) and exclusion-zone width for the profile */
  val MpWin  = 4
  val MpExcl = 4

  /** Matrix profile over each instrument's WEEKLY close series: for every
    * length-[[MpWin]] window, the distance to its nearest non-overlapping
    * neighbor (pairs closer than [[MpExcl]] are excluded as trivial
    * self-matches). Emits per instrument the MOTIF (the best-matching window
    * pair — a repeated pattern) and the DISCORD (the window farthest from
    * every other — the anomaly), the two standard matrix-profile readouts.
    *
    * Distances are MEAN-CENTERED and scaled by m² so everything stays in
    * exact int64: m²·Σ((a_k−ā)−(b_k−b̄))² = Σ((m·a_k−Sa)−(m·b_k−Sb))² where
    * S is the window sum — no division, no doubles, so the full pipeline
    * hash-gates (terms ≤ ~9e7, squared 8e15, ×4 ≈ 3e16 < 2^63). Amplitude
    * is deliberately not variance-normalized (z-normalizing needs a sqrt
    * that would leave integer space); mean-centering already removes the
    * price-level offset, which is the dominant nuisance on a close series.
    *
    * 100 TB shape: the fact table reduces ONCE to the instrument×week grain
    * (map-side-combined aggregate — the only fact-scale pass); the window
    * relation is calendar-sized and the all-pairs self-join runs PER
    * INSTRUMENT (weeks²/2 pairs each, ~65k at 7 years of weeks), carrying
    * only [[MpWin]]-long arrays — domain-bounded, never data-scaled. A
    * longer series upgrades to the published STOMP/SCAMP diagonal-batch
    * scheme; the per-instrument partitioning is unchanged. The result is
    * localized (instrument-count rows) so the pair cache is RELEASED — a
    * lazy return would pin it for the JVM's life (the r12 kcore lesson).
    */
  def tsMatrixProfile(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    // spread: the tick projection (concat + timestampadd + decimal mult per
    // row) otherwise runs inside the one-row-group scan's single task
    val li = Tables.loadSpread(s, dir, "lineitem")
    val ticks = li.select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("tik"),
      expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("tsv"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
    val weekly = ticks
      .groupBy(col("tik"), date_trunc("week", col("tsv")).as("week"))
      .agg(max_by(col("cents"),
        struct(col("tsv"), col("eid"), col("cents"))).as("c"))
    val arrs = weekly
      .groupBy("tik")
      .agg(sort_array(collect_list(struct(col("week"), col("c")))).as("sc"))
      .select(col("tik"), expr("transform(sc, x -> x.c)").as("cs"))
      // guard: a series shorter than one window would make the explode's
      // sequence(1, n<1) run DESCENDING and feed slice() an index of 0
      .where(size(col("cs")) >= MpWin + MpExcl)
    // center each window ONCE at window grain (7k rows), not per pair
    // (1.25M rows): cw_k = m·w_k − Σw, so the pair distance is a plain
    // Σ(cwa_k − cwb_k)² — spelled out per k below as codegen arithmetic
    // (the HOF zip_with/aggregate lambdas are CodegenFallback and evaluate
    // interpreted per element; guide §1.2 step 2 / CLAUDE.md's transform
    // lesson). Same int64 values, same results: (m·x−Sa)−(m·y−Sb) is just
    // refactored to cwa_k − cwb_k.
    val wins = arrs
      .select(col("tik"),
        expr(s"explode(sequence(1, size(cs) - ${MpWin - 1}))").as("i"),
        col("cs"))
      .select(col("tik"), col("i"),
        expr(s"slice(cs, i, $MpWin)").as("w"),
        expr(s"aggregate(slice(cs, i, $MpWin), CAST(0 AS BIGINT), (a, x) -> a + x)").as("sw"))
      .select(col("tik"), col("i"),
        expr(s"transform(w, x -> CAST($MpWin AS BIGINT) * x - sw)").as("cw"))
    val a = wins.select(col("tik"), col("i").as("ia"), col("cw").as("cwa"))
    val b = wins.select(col("tik"), col("i").as("ib"), col("cw").as("cwb"))
    val d2Expr = (1 to MpWin)
      .map(k => s"(element_at(cwa, $k) - element_at(cwb, $k)) * (element_at(cwa, $k) - element_at(cwb, $k))")
      .mkString(" + ")
    val pairs = keep(a.join(b, Seq("tik"))
      .where(col("ib") >= col("ia") + lit(MpExcl))
      .select(col("tik"), col("ia"), col("ib"), expr(d2Expr).as("d2")))
    // materialize the pair cache FIRST: motif and the profile union scan it
    // three times, and an unmaterialized entry is computed by every leg's
    // concurrent tasks (the cfItemRecs discipline)
    pairs.count()
    val motif = pairs.groupBy("tik").agg(
      min_by(struct(col("ia"), col("ib")), struct(col("d2"), col("ia"), col("ib"))).as("m"),
      min(col("d2")).as("motif_d2"),
      count(lit(1)).as("n_pairs"))
      .select(col("tik"), col("n_pairs"),
        col("m.ia").cast("long").as("motif_i"),
        col("m.ib").cast("long").as("motif_j"),
        col("motif_d2"))
    val prof = pairs.select(col("tik"), col("ia").as("idx"), col("d2"))
      .unionByName(pairs.select(col("tik"), col("ib").as("idx"), col("d2")))
      .groupBy("tik", "idx").agg(min(col("d2")).as("pd"))
    val discord = prof.groupBy("tik").agg(
      min_by(col("idx"), struct(-col("pd"), col("idx"))).cast("long").as("discord_i"),
      max(col("pd")).as("discord_d2"))
    motif.join(discord, "tik")
  }

  private val tsMatrixProfileSql =
    s"""WITH t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS tik,
      |         l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND AS tsv,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         l_orderkey * 10 + l_linenumber AS eid
      |  FROM lineitem),
      |wk AS (
      |  SELECT tik, date_trunc('week', tsv) AS week, cents,
      |         row_number() OVER (PARTITION BY tik, date_trunc('week', tsv)
      |                            ORDER BY tsv DESC, eid DESC, cents DESC) AS rn
      |  FROM t),
      |weekly AS (
      |  SELECT tik, week, CAST(max(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS c
      |  FROM wk GROUP BY 1, 2),
      |arr AS (SELECT tik, list(c ORDER BY week) AS cs FROM weekly GROUP BY 1),
      |wins AS (
      |  SELECT tik, CAST(i AS BIGINT) AS i,
      |         cs[i:i + ${MpWin - 1}] AS w,
      |         CAST(list_sum(cs[i:i + ${MpWin - 1}]) AS BIGINT) AS sw
      |  FROM arr, unnest(range(1, len(cs) - ${MpWin - 2})) AS u(i)),
      |pairs AS (
      |  SELECT a.tik, a.i AS ia, b.i AS ib,
      |         CAST(list_sum([(($MpWin * a.w[k] - a.sw) - ($MpWin * b.w[k] - b.sw))
      |                        * (($MpWin * a.w[k] - a.sw) - ($MpWin * b.w[k] - b.sw))
      |                        for k in range(1, $MpWin + 1)]) AS BIGINT) AS d2
      |  FROM wins a JOIN wins b ON a.tik = b.tik AND b.i >= a.i + $MpExcl),
      |motif AS (
      |  SELECT tik, n_pairs, motif_i, motif_j, motif_d2 FROM (
      |    SELECT tik, ia AS motif_i, ib AS motif_j, d2 AS motif_d2,
      |           CAST(count(*) OVER (PARTITION BY tik) AS BIGINT) AS n_pairs,
      |           row_number() OVER (PARTITION BY tik ORDER BY d2, ia, ib) AS rn
      |    FROM pairs) WHERE rn = 1),
      |prof AS (
      |  SELECT tik, idx, CAST(min(d2) AS BIGINT) AS pd FROM (
      |    SELECT tik, ia AS idx, d2 FROM pairs
      |    UNION ALL
      |    SELECT tik, ib AS idx, d2 FROM pairs)
      |  GROUP BY 1, 2),
      |discord AS (
      |  SELECT tik, discord_i, discord_d2 FROM (
      |    SELECT tik, idx AS discord_i, pd AS discord_d2,
      |           row_number() OVER (PARTITION BY tik ORDER BY pd DESC, idx) AS rn
      |    FROM prof) WHERE rn = 1)
      |SELECT tik, n_pairs, motif_i, motif_j, motif_d2, discord_i, discord_d2
      |FROM motif JOIN discord USING (tik)""".stripMargin

  // ---------------------------------------------------------------------------
  // Sequential pattern mining — gap-tolerant subsequence support
  // ---------------------------------------------------------------------------

  /** minimum users for a length-3 sequential pattern to be emitted */
  val SeqPatMinUsers = 5

  /** Length-3 sequential pattern support (the PrefixSpan counting problem at
    * fixed depth): for every event-type triple (a → b → c), how many users
    * contain it as a SUBSEQUENCE — occurrences strictly ordered in time but
    * with ARBITRARY gaps, unlike [[seqTransitions]]' adjacent-bigram counts.
    * Containment is decided by greedy earliest matching (provably exact for
    * subsequence tests): t₁ = first a, t₂ = first b after t₁, t₃ = first c
    * after t₂ — each step a keyed min, so the whole test is two join+min
    * cascades, no per-user sequence materialization. Equal-timestamp events
    * never chain (strict `>`), the same rule in both engines.
    *
    * 100 TB shape: each cascade step is a user-keyed equi-join against the
    * type-first-occurrence relation (users × |types| rows, map-side-combined
    * mins) — state is domain-bounded (users × types²), the event table is
    * scanned twice and never self-joined at event grain.
    */
  def seqPrefixspan(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id").as("u"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val firstA = ev.groupBy(col("u"), col("event_type").as("a"))
      .agg(min(col("us")).as("ta"))
    val bStep = firstA
      .join(ev.select(col("u"), col("event_type").as("b"), col("us").as("usb")), Seq("u"))
      .where(col("usb") > col("ta"))
      .groupBy(col("u"), col("a"), col("b")).agg(min(col("usb")).as("tb"))
    val cStep = bStep
      .join(ev.select(col("u"), col("event_type").as("c"), col("us").as("usc")), Seq("u"))
      .where(col("usc") > col("tb"))
      .groupBy(col("u"), col("a"), col("b"), col("c")).agg(count(lit(1)).as("nn"))
    val totals = ev.select("u").distinct().agg(count(lit(1)).as("n_total"))
    cStep.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_users"))
      .where(col("n_users") >= SeqPatMinUsers)
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("c"), col("n_users"),
        expr("n_users * 1000000 div n_total").as("support_ppm"))
  }

  private val seqPrefixspanSql =
    s"""WITH e AS (
      |  SELECT user_id AS u, event_type, epoch_us(ts) AS us FROM events),
      |fa AS (
      |  SELECT u, event_type AS a, CAST(min(us) AS BIGINT) AS ta
      |  FROM e GROUP BY 1, 2),
      |fb AS (
      |  SELECT fa.u, a, e.event_type AS b, CAST(min(e.us) AS BIGINT) AS tb
      |  FROM fa JOIN e ON fa.u = e.u AND e.us > fa.ta
      |  GROUP BY 1, 2, 3),
      |fc AS (
      |  SELECT fb.u, a, b, e.event_type AS c
      |  FROM fb JOIN e ON fb.u = e.u AND e.us > fb.tb
      |  GROUP BY 1, 2, 3, 4),
      |sup AS (
      |  SELECT a, b, c, CAST(count(*) AS BIGINT) AS n_users
      |  FROM fc GROUP BY 1, 2, 3
      |  HAVING count(*) >= $SeqPatMinUsers),
      |tot AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_total FROM e)
      |SELECT a, b, c, n_users,
      |       CAST(n_users * 1000000 // n_total AS BIGINT) AS support_ppm
      |FROM sup CROSS JOIN tot""".stripMargin

  def all: Seq[Q] = Seq(
    Q("seq_prefixspan", seqPrefixspan, Some(seqPrefixspanSql)),
    Q("ts_matrix_profile", tsMatrixProfile, Some(tsMatrixProfileSql)),
    Q("capped_running_balance", cappedRunningBalance, Some(cappedRunningBalanceSql)),
    Q("ts_decompose", tsDecompose, Some(tsDecomposeSql)),
    Q("ts_residual_outliers", tsResidualOutliers, Some(tsResidualOutliersSql)),
    Q("tree_depth2", treeDepth2, Some(treeDepth2Sql)),
    Q("ts_mann_kendall", tsMannKendall, Some(tsMannKendallSql)),
    Q("stump_train", stumpTrain, Some(stumpTrainSql)),
    Q("ts_peaks", tsPeaks, Some(tsPeaksSql)),
    Q("bitmap_distinct_weekly", bitmapDistinctWeekly, Some(bitmapDistinctWeeklySql)),
    Q("cluster_grid_density", clusterGridDensity, Some(clusterGridDensitySql)),
    Q("recursive_sql_reach", recursiveSqlReach,
      Some(reachSqlFor("edges",
        s"edges AS (SELECT * FROM (${edgeSqlFor("orders", "lineitem")})),"))),
    Q("survival_km", survivalKm, Some(survivalKmSql)),
    Q("assoc_rules", assocRules, Some(assocRulesSql)),
    Q("assoc_triples", assocTriples, Some(assocTriplesSql)),
    Q("ts_acf", tsAcf, Some(tsAcfSql)),
    Q("ts_backtest", tsBacktest, Some(tsBacktestSql)),
    Q("ts_pinball", tsPinball, Some(tsPinballSql)),
    Q("cf_item_recs", cfItemRecs, Some(cfItemRecsSql)),
    Q("trending_decay", trendingDecay, Some(trendingDecaySql)),
    Q("ts_changepoint", tsChangepoint, Some(tsChangepointSql)),
    Q("ts_holt_forecast", tsHoltForecast, Some(tsHoltForecastSql)),
    Q("ts_hw_forecast", tsHwForecast, Some(tsHwForecastSql)),
    Q("price_elasticity", priceElasticity, Some(priceElasticitySql)),
    Q("ts_seasonality", tsSeasonality, Some(tsSeasonalitySql)))
}
