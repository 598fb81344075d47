package graft.analytics

import graft.{Localize, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Rebase

/** Distributed graph analytics over relations the warehouse already has —
  * the iterative-join operator family (PageRank power iteration, oriented
  * triangle counting, frontier BFS) that a training-data pipeline uses for
  * link-graph quality signals (domain rank as a quality prior, community
  * cohesion, crawl-frontier reachability). The reference delegates every
  * derived analysis to its warehouse (SURVEY.md §2.6); graphs are the one
  * analysis family plain SQL does worst, so this pack is the Spark-native
  * answer: edges are DataFrames, every round is a keyed join + aggregate,
  * and nothing graph-sized ever collects to the driver.
  *
  * Two graphs, both derived from driver testdata:
  *  - the bipartite PURCHASE graph: customer c ↔ supplier s whenever an
  *    order of c contains a lineitem of s. Node ids interleave losslessly
  *    (customer → 2c, supplier → 2s+1) so one BIGINT column carries both
  *    partitions portably.
  *  - the CO-PURCHASE part graph: parts x–y linked when ≥ [[MinCoOrders]]
  *    distinct orders contain both ("frequently bought together") — the
  *    co-occurrence threshold keeps the graph sparse under any corpus size
  *    (a single shared basket is noise; repeated co-occurrence is signal).
  *
  * Determinism/oracle posture: ranks are integer fixed-point (init 1e9,
  * damping 85/100 as an integer ratio, per-edge contribution by integer
  * division) — sums of longs are order-free and `div`/`//` agree on
  * non-negative operands in Spark and DuckDB, so 5 rounds of power
  * iteration replay EXACTLY as a chained-CTE oracle. No floats anywhere.
  *
  * Sibling operators: [[graft.analytics.Analytics.graphInfluence]] is the
  * 2-round damped-flow variant on the co-purchase graph (with the
  * broadcast/co-partitioned vertex-join mode switch);
  * [[graft.llm.Dedup]]'s connected components is the
  * converge-until-fixpoint traversal. This pack adds the full
  * out-degree-normalized power iteration, the frontier BFS, and the
  * triangle census.
  */
object Graph extends QueryPack {

  /** power-iteration rounds (fixed — the oracle replays each round) */
  val PrIters = 5

  /** fixed-point scale: every node starts with this much integer mass */
  val PrInit = 1000000000L

  /** additive base per round = 0.15 · [[PrInit]] (damping 0.85) */
  val PrBase = 150000000L

  /** BFS rounds for [[reach]] */
  val ReachHops = 3

  /** co-purchase edge threshold: ≥ this many distinct shared orders */
  val MinCoOrders = 2

  // -------------------------------------------------------------------------
  // Purchase graph (customer 2c ↔ supplier 2s+1, both directions)
  // -------------------------------------------------------------------------

  /** Memoized-per-dir SESSION-cached edge relations (the Indicators-pack
    * discipline): five bipartite-graph queries share one purchase-edge
    * build and four co-purchase queries share one order-part self-join —
    * the priciest base in the whole graph family. Entries are edge-sized
    * (MBs at test scale) and deliberately live for the session; a query's
    * [[Localize]] scope releases only its own per-round caches. The
    * purchase edges are repartitioned by source vertex before caching: every
    * power-iteration/BFS round joins on `u`, so the graph-sized relation shuffles
    * ONCE at build and never again — only node-sized rank/frontier
    * relations move per round.
    */
  private val purchaseEdgesCache = graft.Memo.base()
  private val custSuppPairsCache = graft.Memo.base()
  private val coPartEdgesCache = graft.Memo.base()

  /** weighted customer–supplier pair base `(c, s, n = shared orders)` —
    * ONE orders⋈lineitem pass memoized for BOTH the unweighted purchase
    * edges (which only need the key set) and [[sssp]]'s weighted edges
    * (which need n); previously sssp re-ran the fact join + distinct on
    * its own (guide §2.4: share the expensive base once)
    */
  private def custSuppPairs(s: SparkSession, dir: String): DataFrame =
    custSuppPairsCache(dir) { d =>
      val li = Tables.load(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val od = Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      od.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"),
          col("o_orderkey").as("o")).distinct()
        .groupBy("c", "s").agg(count(lit(1)).as("n"))
    }

  private[analytics] def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    purchaseEdgesCache(dir) { d =>
      val cs = custSuppPairs(s, d)
        .select((col("c") * 2).as("u"), (col("s") * 2 + 1).as("v"))
      cs.unionAll(cs.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
    }

  private val coPartPairsAllCache = graft.Memo.base()

  /** UNCUT weighted co-purchase pairs (x < y, w = co-order count ≥ 1) — the
    * one order-part self-join both co-purchase bases derive from:
    * [[coPartEdges]] (w ≥ [[MinCoOrders]], the 4-query graph base) and
    * [[graft.analytics.Analytics.graphInfluence]]'s unweighted pair set
    * (which previously re-ran its own collect_set + pair-kernel shuffle
    * over the fact per call — guide §2.4: one expensive base, many
    * consumers).
    */
  private[analytics] def coPartPairsAll(s: SparkSession, dir: String): DataFrame =
    coPartPairsAllCache(dir) { d =>
      val op = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      op.as("a").hint("shuffle_hash")
        .join(op.as("b").hint("shuffle_hash"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("x"), col("b.p").as("y"))
        .agg(count(lit(1)).as("w"))
    }

  /** co-purchase part edges (x < y, co-order weight ≥ [[MinCoOrders]]) —
    * the shared base of assortativity/triangles/kcore/link-prediction
    */
  private def coPartEdges(s: SparkSession, dir: String): DataFrame =
    coPartEdgesCache(dir) { d =>
      coPartPairsAll(s, d).where(col("w") >= MinCoOrders)
    }

  private val edgeCtes =
    """cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT c * 2 AS u, s * 2 + 1 AS v FROM cs
      |      UNION ALL
      |      SELECT s * 2 + 1 AS u, c * 2 AS v FROM cs)""".stripMargin

  /** Integer fixed-point PageRank, [[PrIters]] rounds of power iteration:
    *
    *   pr₀(n)    = 1e9
    *   prₜ₊₁(n) = 150e6 + Σ_{u→n} (85 · prₜ(u)) div (100 · outdeg(u))
    *
    * Emits the top 20 nodes by final rank (ties by node id), decoded back
    * to (kind, key).
    *
    * 100 TB shape: per round the edge relation (cached, pre-partitioned on
    * `u`) joins the node-sized rank relation — one exchange of ranks in,
    * one exchange of per-target partial sums out, both node-sized; the
    * graph itself never re-shuffles. Each round is MATERIALIZED into its
    * cache (the scope's round step) before the previous round is dropped,
    * so lineage really is one round deep at any PrIters (an unmaterialized
    * cache would silently rebuild the full join tree at the final action).
    * The final top-20 is a TakeOrdered cut, never a global sort, and is
    * localized so every cache is released before returning.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val edges = purchaseEdges(s, dir)
    val deg = keep(edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("outdeg")))
    // outdeg rides INSIDE the rank relation: the per-round contribution
    // needs (pr, outdeg) together, and carrying both in one node-sized row
    // drops a p⋈deg join from every round (PrIters joins per query saved)
    var p = deg.select(col("node"), col("outdeg"), lit(PrInit).as("pr"))
    for (t <- 1 to PrIters) {
      val contrib = edges
        .join(p.select(col("node").as("u"),
          expr("(85 * pr) div (100 * outdeg)").as("contrib")), "u")
        .groupBy(col("v").as("node")).agg(sum("contrib").as("c"))
      val next = keep.round(t, deg
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          (lit(PrBase) + coalesce(col("c"), lit(0L))).as("pr")))
      keep.drop(p)
      p = next
    }
    val top = p.orderBy(col("pr").desc, col("node")).limit(20)
    val w   = Window.orderBy(col("pr").desc, col("node"))
    top.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
      expr("node div 2").as("key"),
      col("pr"),
      row_number().over(w).cast("long").as("rank"))
  }

  /** seed cohort for personalized PageRank: customers with custkey < this */
  val PprSeedMax = 50

  /** Personalized PageRank — the random-walk-with-restart recommender: all
    * teleport mass goes to the seed customer cohort (custkey <
    * [[PprSeedMax]]), so after [[PrIters]] rounds the stationary-ish scores
    * measure proximity TO THE SEEDS, not global centrality. Emits the top
    * 20 SUPPLIERS by personalized score — "suppliers this cohort's
    * purchasing puts them closest to", the bipartite-walk co-visitation
    * recommendation. Same integer fixed-point arithmetic and plan shape as
    * [[pagerank]] (only the base term differs: seeds get [[PrBase]], every
    * other node 0), so the chained-CTE oracle replays it exactly.
    */
  def pprRecs(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val edges = purchaseEdges(s, dir)
    val deg = keep(edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("outdeg")))
    val seeded = keep(deg
      .withColumn("seed", col("node") % 2 === 0 && col("node") < lit(2L * PprSeedMax)))
    // same outdeg-in-rank-relation fold as [[pagerank]]: one join per round
    var p = seeded.select(col("node"), col("outdeg"),
      when(col("seed"), lit(PrInit)).otherwise(lit(0L)).as("pr"))
    for (t <- 1 to PrIters) {
      val contrib = edges
        .join(p.select(col("node").as("u"),
          expr("(85 * pr) div (100 * outdeg)").as("contrib")), "u")
        .groupBy(col("v").as("node")).agg(sum("contrib").as("c"))
      val next = keep.round(t, seeded
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          (when(col("seed"), lit(PrBase)).otherwise(lit(0L)) +
            coalesce(col("c"), lit(0L))).as("pr")))
      keep.drop(p)
      p = next
    }
    val top = p.where(col("node") % 2 === 1 && col("pr") > 0)
      .orderBy(col("pr").desc, col("node")).limit(20)
    val w = Window.orderBy(col("pr").desc, col("node"))
    top.select(
      expr("node div 2").as("s_suppkey"),
      col("pr"),
      row_number().over(w).cast("long").as("rank"))
  }

  private val pprRecsSql = {
    val seedBase =
      s"CASE WHEN d.node % 2 = 0 AND d.node < ${2L * PprSeedMax} THEN $PrBase ELSE 0 END"
    val rounds = (1 to PrIters).map { t =>
      s"""c$t AS (
         |  SELECT e.v AS node, (85 * p.pr) // (100 * d.outdeg) AS contrib
         |  FROM e JOIN p${t - 1} p ON p.node = e.u JOIN deg d ON d.node = e.u
         |  WHERE p.pr > 0),
         |p$t AS (
         |  SELECT d.node, CAST($seedBase + coalesce(sum(contrib), 0) AS BIGINT) AS pr
         |  FROM deg d LEFT JOIN c$t ON c$t.node = d.node GROUP BY d.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
      |deg AS (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY u),
      |p0 AS (SELECT node, CAST(CASE WHEN node % 2 = 0 AND node < ${2L * PprSeedMax}
      |                             THEN $PrInit ELSE 0 END AS BIGINT) AS pr
      |       FROM deg),
      |$rounds
      |SELECT s_suppkey, pr, rank FROM (
      |  SELECT node // 2 AS s_suppkey, pr,
      |         row_number() OVER (ORDER BY pr DESC, node) AS rank
      |  FROM p$PrIters WHERE node % 2 = 1 AND pr > 0)
      |WHERE rank <= 20""".stripMargin
  }

  private val pagerankSql = {
    val rounds = (1 to PrIters).map { t =>
      s"""c$t AS (
         |  SELECT e.v AS node, (85 * p.pr) // (100 * d.outdeg) AS contrib
         |  FROM e JOIN p${t - 1} p ON p.node = e.u JOIN deg d ON d.node = e.u),
         |p$t AS (
         |  SELECT d.node, CAST($PrBase + coalesce(sum(contrib), 0) AS BIGINT) AS pr
         |  FROM deg d LEFT JOIN c$t ON c$t.node = d.node GROUP BY d.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
      |deg AS (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY u),
      |p0 AS (SELECT node, CAST($PrInit AS BIGINT) AS pr FROM deg),
      |$rounds
      |SELECT kind, key, pr, rank FROM (
      |  SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
      |         node // 2 AS key, pr,
      |         row_number() OVER (ORDER BY pr DESC, node) AS rank
      |  FROM p$PrIters)
      |WHERE rank <= 20""".stripMargin
  }

  /** Frontier BFS from the seed customers (custkey < 10) over the purchase
    * graph, [[ReachHops]] rounds; emits nodes-per-hop at first-discovery
    * distance. Each round is frontier ⋈ edges (graph cached on the join
    * key) then an anti-join against the visited set — the frontier relation
    * is the only thing that grows, and dedup happens distributed, never on
    * the driver. The DuckDB twin is the textbook recursive CTE with a
    * min(hop) reduction.
    */
  def reach(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val edges = purchaseEdges(s, dir)
    val seeds = keep(edges.select("u").where(col("u") % 2 === 0 && col("u") < 20)
      .distinct().select(col("u").as("node"), lit(0L).as("hop")))
    var visited = Rebase(seeds) // lineage-flat: see [[Localize.Scope.round]]
    var frontier = visited.select("node")
    for (h <- 1 to ReachHops) {
      // materialized round: the anti-join chain must not rebuild
      val next = keep.round(h, frontier.join(edges, frontier("node") === edges("u"))
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hop")))
      visited = visited.unionAll(next)
      frontier = next.select("node")
    }
    visited.groupBy("hop").agg(count(lit(1)).as("n_nodes"))
  }

  private val reachSql =
    s"""WITH RECURSIVE $edgeCtes,
      |walk(node, hop) AS (
      |    SELECT DISTINCT c * 2 AS node, CAST(0 AS BIGINT) AS hop FROM cs WHERE c < 10
      |  UNION
      |    SELECT e.v, w.hop + 1 FROM walk w JOIN e ON e.u = w.node WHERE w.hop < $ReachHops)
      |SELECT hop, count(*) AS n_nodes
      |FROM (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
      |GROUP BY hop""".stripMargin

  // -------------------------------------------------------------------------
  // Harmonic closeness centrality (multi-source labeled BFS)
  // -------------------------------------------------------------------------

  /** Harmonic closeness of the seed customers (custkey < 10) within
    * [[ReachHops]] hops: H(s) = Σ_{v reached, v≠s} 1/d(s,v), the
    * centrality that stays well-defined on disconnected graphs (unreachable
    * nodes contribute 0, not ∞). The BFS is [[reach]]'s frontier loop
    * LABELED by seed — the frontier carries (seed, node) pairs so all seeds
    * expand in the SAME per-round join against the cached edge relation
    * (one multi-source pass, not |seeds| sequential traversals). Distances
    * sum as `1000000 div hop` — integer ppm, so the whole centrality
    * hash-gates; `ecc_capped` is the within-cap eccentricity.
    *
    * 100 TB shape: per round ONE frontier ⋈ edges join (frontier ≤ seeds ×
    * nodes, the only growing relation) and a distributed anti-join dedup;
    * the graph-sized edge relation shuffles once at build. Seed count
    * scales the frontier linearly — a full-graph centrality run batches
    * seeds to bound frontier memory, same loop.
    */
  def harmonic(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val edges = purchaseEdges(s, dir)
    val seeds = keep(edges.select("u").where(col("u") % 2 === 0 && col("u") < 20)
      .distinct()
      .select(col("u").as("seed"), col("u").as("node"), lit(0L).as("hop")))
    var visited = Rebase(seeds) // lineage-flat: see [[Localize.Scope.round]]
    var frontier = visited.select("seed", "node")
    for (h <- 1 to ReachHops) {
      // materialized round: the anti-join chain must not rebuild
      val next = keep.round(h, frontier.join(edges, frontier("node") === edges("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited.select("seed", "node"), Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("hop")))
      visited = visited.unionAll(next)
      frontier = next.select("seed", "node")
    }
    visited.where(col("hop") > 0)
      .groupBy("seed")
      .agg(
        count(lit(1)).as("n_reached"),
        sum(expr("1000000 div hop")).as("harmonic_ppm"),
        max(col("hop")).as("ecc_capped"))
  }

  private val harmonicSql =
    s"""WITH RECURSIVE $edgeCtes,
      |walk(seed, node, hop) AS (
      |    SELECT DISTINCT c * 2, c * 2, CAST(0 AS BIGINT) FROM cs WHERE c < 10
      |  UNION
      |    SELECT w.seed, e.v, w.hop + 1
      |    FROM walk w JOIN e ON e.u = w.node WHERE w.hop < $ReachHops),
      |d AS (SELECT seed, node, min(hop) AS hop FROM walk GROUP BY 1, 2)
      |SELECT seed,
      |       CAST(count(*) AS BIGINT) AS n_reached,
      |       CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_ppm,
      |       CAST(max(hop) AS BIGINT) AS ecc_capped
      |FROM d WHERE hop > 0 GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Degree assortativity
  // -------------------------------------------------------------------------

  /** Degree assortativity coefficient of the co-purchase graph (Newman
    * 2002): the Pearson correlation of endpoint degrees over DIRECTED edge
    * copies (both directions, the standard undirected convention). Moment
    * sums are exact int64 (degrees are small, edges bounded); the
    * coefficient itself is a fixed three-op double sequence — two
    * correctly-rounded sqrts of exact integers and one division — floored
    * to e6, so it hash-gates. Positive r = hubs attach to hubs
    * (assortative); co-purchase graphs typically come out disassortative.
    *
    * 100 TB shape: degree relation is node-sized and joins back twice on
    * the edge's endpoints (both shuffle-hash, key-partitioned); the final
    * reduce is one row. Nothing quadratic, nothing driver-side.
    */
  def assortativity(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val e = coPartEdges(s, dir).select("x", "y")
    val und = keep(e.unionAll(e.select(col("y").as("x"), col("x").as("y"))))
    val deg = und.groupBy(col("x").as("node")).agg(count(lit(1)).as("d"))
    val dxy = und
      .join(deg.select(col("node").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("d").as("dy")), "y")
    dxy.agg(
        count(lit(1)).as("n_dir_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n_dir_edges"),
        expr("""CASE WHEN n_dir_edges * sxx - sx * sx > 0
               |      AND n_dir_edges * syy - sy * sy > 0
               |     THEN CAST(floor(CAST(n_dir_edges * sxy - sx * sy AS DOUBLE)
               |          / (sqrt(CAST(n_dir_edges * sxx - sx * sx AS DOUBLE))
               |             * sqrt(CAST(n_dir_edges * syy - sy * sy AS DOUBLE)))
               |          * 1000000) AS BIGINT)
               |     END""".stripMargin).as("r_e6"))
  }

  private val assortativitySql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (
      |  SELECT a.p AS x, b.p AS y
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= $MinCoOrders),
      |und AS (SELECT x, y FROM e0 UNION ALL SELECT y, x FROM e0),
      |deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(dx.d) AS BIGINT) AS sx, CAST(sum(dy.d) AS BIGINT) AS sy,
      |         CAST(sum(dx.d * dy.d) AS BIGINT) AS sxy,
      |         CAST(sum(dx.d * dx.d) AS BIGINT) AS sxx,
      |         CAST(sum(dy.d * dy.d) AS BIGINT) AS syy
      |  FROM und JOIN deg dx ON und.x = dx.node JOIN deg dy ON und.y = dy.node)
      |SELECT n AS n_dir_edges,
      |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |            THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
      |                 * 1000000) AS BIGINT)
      |       END AS r_e6
      |FROM m""".stripMargin

  // -------------------------------------------------------------------------
  // Co-purchase triangle census
  // -------------------------------------------------------------------------

  /** Triangle census of the co-purchase part graph: one row of structural
    * invariants (nodes, edges, wedges = Σ C(deg,2), triangles, global
    * clustering coefficient in ppm) — each a pure integer, so the gate pins
    * the whole degree sequence and the exact triangle count.
    *
    * The Spark side runs the degree-ordered orientation algorithm: each
    * undirected edge is directed from its lower (degree, id) endpoint to the
    * higher, wedges enumerate only ordered out-pairs of each node, and a
    * wedge closes iff its (v₁, v₂) is itself an oriented edge. Fan-out per
    * node is bounded by out-degree under orientation — O(m^1.5) total work
    * on ANY graph (the hub that breaks naive wedge counting has huge
    * in-degree but tiny out-degree) — while the count stays
    * orientation-invariant, which is what lets the DuckDB oracle use the
    * naive id-ordered formulation and still match exactly.
    */
  def triangles(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val e = coPartEdges(s, dir).select("x", "y")
    val und = e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
    val deg = keep(und.groupBy(col("x").as("node")).agg(count(lit(1)).as("d")))

    val withDeg = e
      .join(deg.select(col("node").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("d").as("dy")), "y")
    val xFirst = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    val or = withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("u"),
      when(xFirst, col("y")).otherwise(col("x")).as("v"),
      when(xFirst, col("dy")).otherwise(col("dx")).as("dv"))
    val wedges = or.as("e1").join(or.as("e2"),
      col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.v").as("a"), col("e2.v").as("b"))
    val triCnt = wedges.join(or.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))

    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L)).as("n_wedges"))
    val eCnt = e.agg(count(lit(1)).as("n_edges"))
    // merge the three 1-row aggregates via a tagged union (never a cartesian)
    val st = degStats
      .select(col("n_nodes"), col("n_wedges"), lit(0L).as("n_edges"), lit(0L).as("n_triangles"))
      .unionAll(eCnt.select(lit(0L), lit(0L), col("n_edges"), lit(0L)))
      .unionAll(triCnt.select(lit(0L), lit(0L), lit(0L), col("n_triangles")))
      .agg(
        max("n_nodes").as("n_nodes"), max("n_edges").as("n_edges"),
        max("n_wedges").as("n_wedges"), max("n_triangles").as("n_triangles"))
    st.select(
      col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
      when(col("n_wedges") === 0, lit(0L))
        .otherwise(expr("(3000000 * n_triangles) div n_wedges")).as("clustering_ppm"))
  }

  private val trianglesSql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT a.p AS x, b.p AS y FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |      GROUP BY 1, 2 HAVING count(*) >= $MinCoOrders),
      |und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
      |deg AS (SELECT x AS node, count(*) AS d FROM und GROUP BY x),
      |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
      |        FROM e e1 JOIN e e2 ON e2.x = e1.y JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
      |st AS (SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |              (SELECT count(*) FROM e) AS n_edges,
      |              (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) FROM deg) AS n_wedges,
      |              (SELECT count(*) FROM tri) AS n_triangles)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |       CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
      |            ELSE (3000000 * n_triangles) // n_wedges END AS clustering_ppm
      |FROM st""".stripMargin

  /** Bellman-Ford relaxation rounds for [[sssp]] (shortest paths using ≤
    * this many edges — the oracle's recursive walk is hop-bounded the same
    * way, so the two are EXACTLY the same function, not approximations)
    */
  val SsspHops = 3

  /** Weighted single-source shortest paths over the purchase graph:
    * edge weight = `greatest(1, 10 − n_shared_orders)` (stronger
    * relationships are "closer"), seeds = the same sub-20 customer set as
    * [[reach]], [[SsspHops]] rounds of distributed Bellman-Ford — each
    * round joins the node-sized distance relation against the cached
    * pre-partitioned edge relation and takes the per-node MIN of (keep old,
    * relax through incoming edge): monotone, integer-exact, and
    * deterministic regardless of join order. The graph-sized relation
    * shuffles once at build; per round only node-sized distances move —
    * the same 100 TB shape as [[pagerank]]. Output is the distance
    * histogram; the DuckDB oracle replays it with a hop-bounded recursive
    * walk + per-node MIN, a completely independent formulation.
    */
  def sssp(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val fwd = custSuppPairs(s, dir)
      .select((col("c") * 2).as("u"), (col("s") * 2 + 1).as("v"),
        greatest(lit(1L), lit(10L) - col("n")).as("w"))
    val we = keep(fwd.unionAll(fwd.select(col("v").as("u"), col("u").as("v"), col("w")))
      .repartition(col("u")))
    val seeds = keep(we.select("u").where(col("u") % 2 === 0 && col("u") < 20)
      .distinct().select(col("u").as("node"), lit(0L).as("dist")))
    var dist = Rebase(seeds) // lineage-flat: see [[Localize.Scope.round]]
    for (t <- 1 to SsspHops) {
      val cand = dist.join(we, dist("node") === we("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("d"))
      dist = keep.round(t, dist.select(col("node"), col("dist").as("d")).unionAll(cand)
        .groupBy("node").agg(min(col("d")).as("dist")))
    }
    dist.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
  }

  private val ssspSql =
    s"""WITH RECURSIVE pairn AS (
      |  SELECT c, s, count(*) AS n FROM (
      |    SELECT DISTINCT o_custkey AS c, l_suppkey AS s, o_orderkey
      |    FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
      |  GROUP BY c, s),
      |we AS (
      |  SELECT c * 2 AS u, s * 2 + 1 AS v, greatest(1, 10 - n) AS w FROM pairn
      |  UNION ALL
      |  SELECT s * 2 + 1 AS u, c * 2 AS v, greatest(1, 10 - n) AS w FROM pairn),
      |walk(node, dist, hop) AS (
      |    SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist, 0 AS hop
      |    FROM we WHERE u % 2 = 0 AND u < 20
      |  UNION
      |    SELECT we.v, walk.dist + we.w, walk.hop + 1
      |    FROM walk JOIN we ON we.u = walk.node
      |    WHERE walk.hop < $SsspHops)
      |SELECT dist, count(*) AS n_nodes
      |FROM (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node)
      |GROUP BY dist""".stripMargin

  /** k-core threshold: peel nodes with fewer than this many neighbors */
  val KcoreK = 3

  /** peel rounds for [[kcore]] (fixed — the oracle replays each round; once
    * peeling converges the remaining rounds are exact no-ops, so raising
    * this never changes a converged answer)
    */
  val KcoreRounds = 4

  /** k-core decomposition of the co-purchase part graph by distributed
    * peeling: [[KcoreRounds]] rounds of "drop every node whose degree in the
    * surviving subgraph is < [[KcoreK]]" — the standard iterative route to
    * the k-core (the maximal subgraph where every node keeps ≥ k
    * neighbors), which marks the structurally-cohesive region of the graph
    * that one-off co-occurrences (degree-1 spokes, pendant chains) never
    * enter. Emits one row per round: survivors after the peel and the edge
    * count among them — the shrinking-core trajectory, all integer.
    *
    * 100 TB shape: the edge relation shuffles once at build (cached,
    * pre-partitioned on `x`); each round is two semi-joins against the
    * node-sized survivor set plus a degree aggregate, and the edge relation
    * only ever SHRINKS — monotone peeling, no fan-out anywhere. Each round
    * materializes before its predecessor is dropped (lineage one round
    * deep), and the ≤ rounds-sized stats rows are assembled driver-side —
    * nothing graph-sized collects.
    */
  def kcore(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val e = coPartEdges(s, dir).select("x", "y")
    // lineage-flat handle per round: kcore references its predecessor 3×
    // per round (degree agg + two semi-joins), so nested lineage grows the
    // logical tree EXPONENTIALLY — measured 10.2 s → 1.5 s for the same 4
    // rounds at sf0.1
    var cur = keep.round(0, e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
      .repartition(col("x")))
    val stats = scala.collection.mutable.ListBuffer(
      (0L, cur.select("x").distinct().count(), cur.count() / 2))
    for (t <- 1 to KcoreRounds) {
      val surv = keep(cur.groupBy(col("x")).agg(count(lit(1)).as("d"))
        .where(col("d") >= KcoreK).select(col("x").as("node")))
      val next = keep.round(t, cur
        .join(surv.select(col("node").as("x")), Seq("x"), "left_semi")
        .join(surv.select(col("node").as("y")), Seq("y"), "left_semi"))
      stats += ((t.toLong, surv.count(), next.count() / 2))
      // per-round BLOCKING eviction: the predecessor edge relation and this
      // round's survivor set are dead once `next` is materialized. The old
      // accumulate-then-unpersist(blocking=false) sweep let dead blocks pile
      // up across bench runs in a long-lived JVM (round-12 PERF series climbed
      // 8.7→13.4 s same-JVM); dropping here keeps the storage footprint at
      // exactly one live edge relation between rounds.
      keep.drop(cur)
      keep.drop(surv)
      cur = next
    }
    import s.implicits._
    stats.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  private val kcoreSql = {
    // every chained CTE is MATERIALIZED: each round's relations are
    // referenced 2-3 times (next round's semi-joins + the final counts), and
    // DuckDB re-inlines a non-materialized CTE PER REFERENCE — the
    // evaluation tree then grows exponentially in rounds (observed: the
    // sf0.1 oracle leg ballooning past a 78 GB spill quota under host
    // memory pressure, rounds 8 and 9, while completing in seconds with
    // materialization). Spark never parses this string; DuckDB-only syntax
    // is fine here.
    val rounds = (1 to KcoreRounds).map { t =>
      val prev = if (t == 1) "und" else s"u${t - 1}"
      s"""s$t AS MATERIALIZED (SELECT x AS node FROM $prev GROUP BY x HAVING count(*) >= $KcoreK),
         |u$t AS MATERIALIZED (SELECT p.x, p.y FROM $prev p
         |        JOIN s$t a ON a.node = p.x JOIN s$t b ON b.node = p.y)""".stripMargin
    }.mkString(",\n")
    val rows = (
      s"""SELECT CAST(0 AS BIGINT) AS round,
         |       (SELECT count(DISTINCT x) FROM und) AS n_nodes,
         |       (SELECT count(*) // 2 FROM und) AS n_edges""".stripMargin +:
        (1 to KcoreRounds).map { t =>
          s"""SELECT CAST($t AS BIGINT) AS round,
             |       (SELECT count(*) FROM s$t) AS n_nodes,
             |       (SELECT count(*) // 2 FROM u$t) AS n_edges""".stripMargin
        }).mkString("\nUNION ALL\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (SELECT a.p AS x, b.p AS y FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
       |      GROUP BY 1, 2 HAVING count(*) >= $MinCoOrders),
       |und AS MATERIALIZED (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
       |$rounds
       |$rows""".stripMargin
  }

  /** synchronous label-propagation rounds (fixed — the oracle replays each) */
  val LpaRounds = 3
  /** communities emitted by [[lpa]] */
  val LpaTopK = 10

  /** Community detection on the co-purchase part graph via synchronous
    * LABEL PROPAGATION (Raghavan/Albert/Kumara 2007), made fully
    * deterministic: labels start as node ids; each round every node adopts
    * its neighbors' MODE label with ties broken by smallest label — the
    * (count desc, label asc) argmin both engines express exactly (Spark
    * `min_by(lbl, struct(-c, lbl))`, DuckDB `row_number()` since its
    * `arg_min` rejects struct keys). [[LpaRounds]] fixed rounds (the
    * kcore/pagerank discipline — a convergence loop would make the oracle
    * unreplayable); emits the [[LpaTopK]] largest communities with member
    * count, exact member-key sum and min member, so any misassigned node
    * flips a sum. Complements the graph pack's k-core (cohesion) and
    * components (connectivity): LPA finds DENSITY clusters inside one
    * component.
    *
    * 100 TB shape: the undirected edge relation shuffles once at build
    * (cached, pre-partitioned on the probe side `y`); each round is one
    * co-partitioned edge⋈label join (labels are node-sized), a map-side
    * partially-aggregated (x, lbl) count, and a node-sized argmin — no
    * fan-out, no global sort (top-K is a TakeOrdered cut). Rounds
    * materialize before the next one reads them (lineage one round deep),
    * and the scope's observer lets PlanSpec pin the per-round join count
    * like pagerank's.
    */
  def lpa(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val e = coPartEdges(s, dir).select("x", "y")
    val und = keep(e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
      .repartition(col("y")))
    val seedLabels = keep(und.select(col("x").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")))
    seedLabels.count()
    var labels = Rebase(seedLabels) // lineage-flat: see [[Localize.Scope.round]]
    for (t <- 1 to LpaRounds) {
      labels = keep.round(t, und
        .join(labels.select(col("node").as("y"), col("lbl")), "y")
        .groupBy(col("x"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("x").as("node"))
        .agg(min_by(col("lbl"), struct((-col("c")).as("nc"), col("lbl"))).as("lbl")))
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("node")).as("member_key_sum"),
        min(col("node")).as("min_member"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(LpaTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_members").desc, col("community"))).cast("long"))
  }

  private val lpaSql = {
    // chained CTEs all MATERIALIZED (the kcore lesson: DuckDB re-inlines a
    // non-materialized CTE per reference and the tree grows exponentially
    // in rounds)
    val rounds = (1 to LpaRounds).map { t =>
      val prev = if (t == 1) "l0" else s"l${t - 1}"
      s"""l$t AS MATERIALIZED (
         |  SELECT x AS node, lbl FROM (
         |    SELECT u.x, l.lbl, count(*) AS c,
         |           row_number() OVER (PARTITION BY u.x
         |             ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM und u JOIN $prev l ON l.node = u.y
         |    GROUP BY u.x, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (SELECT a.p AS x, b.p AS y FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
       |      GROUP BY 1, 2 HAVING count(*) >= $MinCoOrders),
       |und AS MATERIALIZED (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT x AS node, x AS lbl FROM und),
       |$rounds,
       |comm AS (
       |  SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(node) AS BIGINT) AS member_key_sum,
       |         CAST(min(node) AS BIGINT) AS min_member
       |  FROM l$LpaRounds GROUP BY lbl)
       |SELECT community, n_members, member_key_sum, min_member, rank FROM (
       |  SELECT *, CAST(row_number() OVER (ORDER BY n_members DESC, community) AS BIGINT) AS rank
       |  FROM comm)
       |WHERE rank <= $LpaTopK
       |ORDER BY rank""".stripMargin
  }

  /** predicted links emitted by [[linkPrediction]] */
  val LpK = 20

  /** Link prediction on the co-purchase part graph via the
    * Resource-Allocation index (Zhou/Lü/Zhang 2009): for parts x,y NOT
    * currently linked, RA(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/deg(z) — common
    * neighbors vote with weight inversely proportional to their degree, so
    * promiscuous hubs contribute little. RA is the log-free member of the
    * common-neighbor family (Adamic-Adar's 1/log deg needs libm; 1/deg
    * integerizes exactly as `1e6 div deg`), which is what lets the whole
    * prediction ranking hash-gate. Emits the [[LpK]] highest-scoring
    * non-edges — "products that SHOULD be co-bought next", the candidate
    * feed for the recommender.
    *
    * 100 TB shape: candidate pairs enumerate WEDGES (two edges through a
    * shared neighbor), never all pairs — the same O(Σ deg²) bound as the
    * triangle census, with the df-style [[MinCoOrders]] threshold keeping
    * the graph sparse; existing edges drop via one anti-join; the top-K is
    * a TakeOrdered cut, never a global sort.
    */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = Localize { _ =>
    val e = coPartEdges(s, dir).select("x", "y")
    val und = e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy(col("x").as("z")).agg(count(lit(1)).as("d"))
    // wedges through z, canonical x < y, each common neighbor voting once
    val wedges = und.select(col("x").as("z1"), col("y").as("u"))
      .join(und.select(col("x").as("z2"), col("y").as("v")),
        col("z1") === col("z2") && col("u") < col("v"))
      .select(col("z1").as("z"), col("u"), col("v"))
    val scored = wedges
      .join(e.select(col("x").as("u"), col("y").as("v"), lit(1).as("is_edge")),
        Seq("u", "v"), "left_anti")
      .join(deg, "z")
      .groupBy(col("u").as("p_a"), col("v").as("p_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div d")).as("ra_e6"))
    scored
      .orderBy(col("ra_e6").desc, col("p_a"), col("p_b"))
      .limit(LpK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ra_e6").desc, col("p_a"), col("p_b"))).cast("long"))
  }

  private val linkPredictionSql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT a.p AS x, b.p AS y FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |      GROUP BY 1, 2 HAVING count(*) >= $MinCoOrders),
      |und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
      |deg AS (SELECT x AS z, count(*) AS d FROM und GROUP BY x),
      |wedges AS (
      |  SELECT a.x AS z, a.y AS u, b.y AS v
      |  FROM und a JOIN und b ON a.x = b.x AND a.y < b.y),
      |nonedge AS (
      |  SELECT w.z, w.u, w.v FROM wedges w
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.x = w.u AND e.y = w.v)),
      |scored AS (
      |  SELECT n.u AS p_a, n.v AS p_b, CAST(count(*) AS BIGINT) AS n_common,
      |         CAST(sum(1000000 // d) AS BIGINT) AS ra_e6
      |  FROM nonedge n JOIN deg ON deg.z = n.z
      |  GROUP BY 1, 2)
      |SELECT p_a, p_b, n_common, ra_e6, rank FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY ra_e6 DESC, p_a, p_b) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= $LpK
      |ORDER BY rank""".stripMargin

  /** Degree-distribution profile of the purchase graph — the structural
    * health check run before ANY iterative graph job is sized (a heavy
    * power-law tail is what the salting/broadcast guards in the §2.8
    * dossier exist for): degree at doubling rank probes 1, 2, 4, … plus
    * the halving ratio deg(2r)/deg(r) in integer ppm — the graph twin of
    * the Zipf vocabulary probe (reads the tail exponent with NO log-log
    * libm), with node/edge totals and the max-degree share alongside.
    * All integer; one edge aggregate, then rank windows over the
    * node-sized degree relation.
    */
  def degreeProfile(s: SparkSession, dir: String): DataFrame = Localize { _ =>
    val edges = purchaseEdges(s, dir)
    val deg = edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val tot = deg.agg(
      count(lit(1)).as("n_nodes"), sum(col("deg")).as("n_halfedges"),
      max(col("deg")).as("max_deg"))
    // probes stop at rank 128 (doubles at 256): a TakeOrdered cut of 256
    // replaces the former single-partition window over the NODE-scaled
    // degree relation — the rank window then runs on a constant-size cut
    val ranked = deg.orderBy(col("deg").desc, col("node")).limit(256)
      .repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("r", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("deg").desc, col("node"))).cast("long"))
      .drop("pid")
    val probes = ranked.where(expr("r IN (1, 2, 4, 8, 16, 32, 64, 128)"))
      .select(col("r"), col("deg"))
    val doubled = probes.select((col("r") * 2).as("r"), col("deg").as("deg2"))
    probes.join(doubled, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r").as("rank"), col("deg"),
        expr("CASE WHEN deg2 IS NOT NULL THEN deg * 1000000 div deg2 END")
          .as("halving_ppm"),
        col("n_nodes"), col("n_halfedges"),
        expr("max_deg * 1000000 div n_halfedges").as("max_deg_share_ppm"))
      .orderBy(col("rank"))
  }

  private val degreeProfileSql =
    s"""WITH $edgeCtes,
      |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |               CAST(sum(deg) AS BIGINT) AS n_halfedges,
      |               CAST(max(deg) AS BIGINT) AS max_deg FROM deg),
      |rk AS (
      |  SELECT deg, CAST(row_number() OVER (ORDER BY deg DESC, node) AS BIGINT) AS r
      |  FROM deg),
      |pr AS (SELECT r, deg FROM rk WHERE r IN (1, 2, 4, 8, 16, 32, 64, 128))
      |SELECT p.r AS rank, p.deg,
      |       CASE WHEN d2.deg IS NOT NULL THEN p.deg * 1000000 // d2.deg END AS halving_ppm,
      |       n_nodes, n_halfedges,
      |       max_deg * 1000000 // n_halfedges AS max_deg_share_ppm
      |FROM pr p LEFT JOIN (SELECT r * 2 AS r, deg FROM pr) d2 ON d2.r = p.r
      |CROSS JOIN tot
      |ORDER BY rank""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("graph_assortativity", assortativity, Some(assortativitySql)),
    Q("graph_harmonic", harmonic, Some(harmonicSql)),
    Q("graph_degree_profile", degreeProfile, Some(degreeProfileSql)),
    Q("graph_link_prediction", linkPrediction, Some(linkPredictionSql)),
    Q("graph_kcore", kcore, Some(kcoreSql)),
    Q("graph_lpa", lpa, Some(lpaSql)),
    Q("graph_sssp", sssp, Some(ssspSql)),
    Q("graph_pagerank", pagerank, Some(pagerankSql)),
    Q("graph_ppr_recs", pprRecs, Some(pprRecsSql)),
    Q("graph_reach", reach, Some(reachSql)),
    Q("graph_triangles", triangles, Some(trianglesSql)))
}
