package graft.sources

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized JOIN view over the table log —
  * the delta-processing discipline every warehouse MV engine implements:
  * when a batch of fact rows arrives, the view is refreshed by joining and
  * aggregating ONLY the delta, then additively merging the partial
  * aggregate into the stored view (count/sum are abelian, so
  * MV(R ∪ ΔR) = MV(R) ⊕ MV(ΔR) — the classic self-maintainable-view
  * identity for insert-only facts against a static dimension). The full
  * fact table is never re-read after its batch lands.
  *
  * The streaming twin is the incremental rollup pinned by
  * IncrementalAggSpec (engine-managed state); here the state is an
  * EXPLICIT [[TableLog]] table, so every refresh is atomic, versioned and
  * time-travelable — version k of the view IS the view of the first k+1
  * batches, which the spec asserts against prefix recomputes.
  *
  * 100 TB shape: the per-batch work is one broadcast join of the delta
  * against the dim and one partial aggregate of DELTA-sized input; the
  * merge reads only the aggregated view (bounded by group cardinality, not
  * fact rows) full-outer-joined with the delta aggregate on the group key.
  * Nothing fact-sized is ever re-shuffled, and the view rewrite cost is
  * O(|groups|) per batch.
  */
object IncrementalView extends QueryPack {

  private[graft] val viewKeys = Seq("n_name", "o_orderpriority")
  private[graft] val viewSums = Seq("n_orders", "revenue_cents")

  /** ΔMV merge: full-outer on the group key, absent side contributes the
    * additive identity. Works for any count/sum-shaped view.
    */
  private[graft] def mergeDelta(
      mv: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      sums: Seq[String]): DataFrame = {
    val d = sums.foldLeft(delta)((df, c) => df.withColumnRenamed(c, s"_d_$c"))
    mv.join(d, keys, "full_outer")
      .select(keys.map(col) ++ sums.map(c =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"_d_$c"), lit(0L))).as(c)): _*)
  }

  /** customer → nation dimension (broadcast side of every delta join) */
  private def dim(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .join(Tables.load(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))

  /** the three insert batches the build replays (hash-split so every batch
    * hits every group — the worst case for a merge, unlike a date split)
    */
  private[graft] def batchPredicate(i: Int) = col("o_orderkey") % 3 === i

  private def deltaAgg(batch: DataFrame, d: DataFrame): DataFrame =
    batch.join(broadcast(d), col("o_custkey") === col("c_custkey"))
      .groupBy("n_name", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
          .as("revenue_cents"))

  private val built = graft.Scratch.fixture[String]("graft_ivm", "rev_mv")

  /** replay 3 insert batches through the incremental path, memoized per
    * data dir; returns the table-log path of the maintained view
    */
  private[graft] def revenueMv(s: SparkSession, dir: String): String =
    built(dir) { root =>
      val table = root + "/rev_mv"
      val orders = Tables.load(s, dir, "orders")
      val dimDf = dim(s, dir)
      (0 until 3).foreach { i =>
        val delta = deltaAgg(orders.where(batchPredicate(i)), dimDf)
        val next =
          if (TableLog.versions(table).isEmpty) delta
          else mergeDelta(TableLog.read(s, table), delta, viewKeys, viewSums)
        TableLog.commitOverwrite(next, table)
        ()
      }
      table
    }

  // -------------------------------------------------------------------------
  // CDC (retraction-capable) maintenance
  // -------------------------------------------------------------------------

  /** Signed ΔMV merge — the retraction extension of [[mergeDelta]]: the
    * delta's partial aggregates carry NEGATIVE contributions for retracted
    * rows (delete legs, and the before-image leg of an update, the
    * [[graft.operators.Merge]] change model decomposed for aggregates), so
    * the same full-outer additive merge maintains the view under
    * upserts/deletes; groups whose support count reaches zero are DROPPED,
    * making the merged state identical to a from-scratch recompute of the
    * live row set (count and sum are abelian GROUPS, not just monoids —
    * that inverse is exactly what makes a sum/count view self-maintainable
    * under deletes without re-reading the fact).
    */
  private[graft] def mergeCdc(
      mv: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      sums: Seq[String],
      support: String): DataFrame =
    mergeDelta(mv, delta, keys, sums).where(col(support) > 0)

  /** Deterministic CDC change stream over orders, as signed aggregate legs
    * (priority, sign, price_cents) — the shape a Debezium-style feed's
    * before/after images decompose into for aggregate maintenance:
    *   batch 0: insert the o_orderkey%3=0 stratum;
    *   batch 1: insert %3=1, DELETE %3=0 ∧ %5=0;
    *   batch 2: insert %3=2, DELETE %3=1 ∧ %5=0, and UPDATE every
    *            still-live %7=0 row's priority to 'U-RECLASS' (a retract
    *            leg on the before image + an insert leg on the after
    *            image — the group-moving case a tombstone mask cannot
    *            express).
    */
  private def cdcLegs(orders: DataFrame, b: Int): DataFrame = {
    val base = orders.select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("pr"),
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("pc"))
    def leg(cond: Column, sign: Int, pr: Column) =
      base.where(cond).select(pr.as("o_orderpriority"),
        lit(sign.toLong).as("sign"), col("pc"))
    val ins = leg(col("k") % 3 === b, 1, col("pr"))
    b match {
      case 0 => ins
      case 1 => ins.unionAll(leg(col("k") % 3 === 0 && col("k") % 5 === 0, -1, col("pr")))
      case _ =>
        val live2 = (col("k") % 3 === 0 && col("k") % 5 =!= 0) ||
          (col("k") % 3 === 1 && col("k") % 5 =!= 0) || col("k") % 3 === 2
        ins
          .unionAll(leg(col("k") % 3 === 1 && col("k") % 5 === 0, -1, col("pr")))
          .unionAll(leg(live2 && col("k") % 7 === 0, -1, col("pr")))
          .unionAll(leg(live2 && col("k") % 7 === 0, 1, lit("U-RECLASS")))
    }
  }

  private val cdcBuilt = graft.Scratch.fixture[String]("graft_ivm_cdc", "rev_cdc_mv")

  /** replay the 3 CDC batches through the signed-merge path, one table-log
    * version per batch, memoized per data dir
    */
  private[graft] def cdcMv(s: SparkSession, dir: String): String =
    cdcBuilt(dir) { root =>
      val table = root + "/rev_cdc_mv"
      val orders = Tables.load(s, dir, "orders")
      val keys = Seq("o_orderpriority")
      val sums = Seq("n_orders", "revenue_cents")
      (0 until 3).foreach { b =>
        val delta = cdcLegs(orders, b)
          .groupBy("o_orderpriority")
          .agg(sum(col("sign")).as("n_orders"),
            sum(col("sign") * col("pc")).as("revenue_cents"))
        val next =
          if (TableLog.versions(table).isEmpty) delta.where(col("n_orders") > 0)
          else mergeCdc(TableLog.read(s, table), delta, keys, sums, "n_orders")
        TableLog.commitOverwrite(next, table)
        ()
      }
      table
    }

  /** Every version of the CDC-maintained view (version k = the view after
    * CDC batches 0..k) — the oracle recomputes EACH version's live row set
    * from scratch, so the gate proves the signed delta-merge path replays
    * inserts, deletes and group-moving updates exactly, version by version.
    */
  def ivmCdcView(s: SparkSession, dir: String): DataFrame = {
    val table = cdcMv(s, dir)
    TableLog.versions(table).map { v =>
      TableLog.read(s, table, Some(v))
        .select(lit(v).as("version"), col("o_orderpriority"),
          col("n_orders"), col("revenue_cents"))
    }.reduce(_ unionAll _)
  }

  private val ivmCdcViewSql = {
    val pc = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    s"""WITH b AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS pr, $pc AS pc FROM orders),
      |live0 AS (SELECT pr, pc FROM b WHERE k % 3 = 0),
      |live1 AS (SELECT pr, pc FROM b
      |          WHERE (k % 3 = 0 AND k % 5 <> 0) OR k % 3 = 1),
      |live2 AS (
      |  SELECT CASE WHEN k % 7 = 0 THEN 'U-RECLASS' ELSE pr END AS pr, pc
      |  FROM b
      |  WHERE (k % 3 = 0 AND k % 5 <> 0) OR (k % 3 = 1 AND k % 5 <> 0)
      |     OR k % 3 = 2)
      |SELECT CAST(0 AS BIGINT) AS version, pr AS o_orderpriority,
      |       count(*) AS n_orders, CAST(sum(pc) AS BIGINT) AS revenue_cents
      |FROM live0 GROUP BY pr
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), pr, count(*), CAST(sum(pc) AS BIGINT)
      |FROM live1 GROUP BY pr
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), pr, count(*), CAST(sum(pc) AS BIGINT)
      |FROM live2 GROUP BY pr""".stripMargin
  }

  /** live (key, value) rows after CDC batches 0..b — the base relation a
    * dirty-group recompute reads (production: the CDC-applied base table;
    * here the same deterministic predicates [[cdcLegs]] encodes)
    */
  private def liveRows(orders: DataFrame, b: Int): DataFrame = {
    val base = orders.select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("pr"),
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("pc"))
    b match {
      case 0 => base.where(col("k") % 3 === 0).select(col("pr"), col("pc"))
      case 1 => base.where((col("k") % 3 === 0 && col("k") % 5 =!= 0) || col("k") % 3 === 1)
        .select(col("pr"), col("pc"))
      case _ => base.where((col("k") % 3 === 0 && col("k") % 5 =!= 0) ||
          (col("k") % 3 === 1 && col("k") % 5 =!= 0) || col("k") % 3 === 2)
        .select(when(col("k") % 7 === 0, lit("U-RECLASS")).otherwise(col("pr")).as("pr"),
          col("pc"))
    }
  }

  private val mmBuilt = graft.Scratch.fixture[String]("graft_ivm_mm", "mm_mv")

  /** MIN/MAX view maintained under the same CDC stream — the
    * NON-INVERTIBLE-aggregate case [[mergeCdc]]'s abelian-group trick
    * cannot touch (a deleted value gives no inverse for min/max). The
    * standard production algorithm: inserts merge monotonically
    * (`least`/`greatest`); a batch's deletes mark a group DIRTY only when
    * a deleted value ties the group's current extremum (`del_min ≤ old_min
    * or del_max ≥ old_max` — otherwise the extremum provably survives),
    * and ONLY dirty groups re-aggregate from the live base relation.
    * Each version records which groups took the recompute path, and the
    * oracle replays both the states AND the dirty decisions from scratch —
    * proving the partial-recompute rule itself, not just the results.
    */
  private[graft] def minmaxMv(s: SparkSession, dir: String): String =
    mmBuilt(dir) { root =>
      val table = root + "/mm_mv"
      val orders = Tables.load(s, dir, "orders")
      val key = "o_orderpriority"
      (0 until 3).foreach { b =>
        val legs = cdcLegs(orders, b)
        // ONE aggregate pass over the legs union computes both polarities as
        // conditional aggs (the legs subplan is itself a union of up to 4
        // fact scans — separate ins/del aggregates evaluated it twice; guide
        // §2.3 "aggregate before you shuffle" + §2.4 share-one-exchange).
        // Identical nulls: a group with no inserts gets ins_n = 0 (the old
        // full_outer's absent row coalesced to 0) and NULL ins_min/ins_max
        // (min/max over an empty conditional), matching the 3-way join.
        val agg = legs.groupBy(key).agg(
          sum(when(col("sign") > 0, 1L).otherwise(0L)).as("ins_n"),
          min(when(col("sign") > 0, col("pc"))).as("ins_min"),
          max(when(col("sign") > 0, col("pc"))).as("ins_max"),
          sum(when(col("sign") < 0, 1L).otherwise(0L)).as("del_n"),
          min(when(col("sign") < 0, col("pc"))).as("del_min"),
          max(when(col("sign") < 0, col("pc"))).as("del_max"))
        var jCache: DataFrame = null
        val next =
          if (TableLog.versions(table).isEmpty)
            agg.where(col("ins_n") > 0).select(col(key), col("ins_n").as("n"),
              col("ins_min").as("min_pc"), col("ins_max").as("max_pc"),
              lit(0L).as("recomputed"))
          else {
            val old = TableLog.read(s, table)
              .select(col(key), col("n").as("old_n"),
                col("min_pc").as("old_min"), col("max_pc").as("old_max"))
            // cache: j is group-cardinality-sized and consumed THREE times
            // (dirty keys, clean rows, and the union action evaluates both
            // legs) — uncached, each consumer re-ran the legs aggregate
            val j = old.join(agg, Seq(key), "full_outer")
              .select(col(key),
                (coalesce(col("old_n"), lit(0L)) + coalesce(col("ins_n"), lit(0L))
                  - coalesce(col("del_n"), lit(0L))).as("n"),
                least(col("old_min"), col("ins_min")).as("merged_min"),
                greatest(col("old_max"), col("ins_max")).as("merged_max"),
                (coalesce(col("del_n"), lit(0L)) > 0 &&
                  (col("del_min") <= col("old_min") || col("del_max") >= col("old_max")))
                  .as("dirty"))
              .cache()
            jCache = j
            val dirtyKeys = j.where(col("dirty")).select(col(key))
            val recomputed = liveRows(orders, b).withColumnRenamed("pr", key)
              .join(broadcast(dirtyKeys), Seq(key), "left_semi")
              .groupBy(key)
              .agg(count(lit(1)).as("n"), min(col("pc")).as("min_pc"),
                max(col("pc")).as("max_pc"))
              .withColumn("recomputed", lit(1L))
            val clean = j.where(!col("dirty") && col("n") > 0)
              .select(col(key), col("n"), col("merged_min").as("min_pc"),
                col("merged_max").as("max_pc"), lit(0L).as("recomputed"))
            clean.unionAll(recomputed)
          }
        TableLog.commitOverwrite(next, table)
        // release j: it is one batch's merge frame, dead after the commit
        if (jCache != null) jCache.unpersist(blocking = true)
        ()
      }
      table
    }

  /** Every version of the min/max CDC view with its per-group recompute
    * flags; the oracle rebuilds states AND flags from the raw fact.
    */
  def ivmMinmaxView(s: SparkSession, dir: String): DataFrame = {
    val table = minmaxMv(s, dir)
    TableLog.versions(table).map { v =>
      TableLog.read(s, table, Some(v))
        .select(lit(v).as("version"), col("o_orderpriority"),
          col("n"), col("min_pc"), col("max_pc"), col("recomputed"))
    }.reduce(_ unionAll _)
  }

  private val ivmMinmaxViewSql = {
    val pc = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    s"""WITH b AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS pr, $pc AS pc FROM orders),
      |live0 AS (SELECT pr, pc FROM b WHERE k % 3 = 0),
      |live1 AS (SELECT pr, pc FROM b
      |          WHERE (k % 3 = 0 AND k % 5 <> 0) OR k % 3 = 1),
      |live2 AS (
      |  SELECT CASE WHEN k % 7 = 0 THEN 'U-RECLASS' ELSE pr END AS pr, pc
      |  FROM b
      |  WHERE (k % 3 = 0 AND k % 5 <> 0) OR (k % 3 = 1 AND k % 5 <> 0)
      |     OR k % 3 = 2),
      |del1 AS (
      |  SELECT pr, CAST(count(*) AS BIGINT) AS del_n, min(pc) AS del_min,
      |         max(pc) AS del_max
      |  FROM b WHERE k % 3 = 0 AND k % 5 = 0 GROUP BY pr),
      |del2 AS (
      |  SELECT pr, CAST(count(*) AS BIGINT) AS del_n, min(pc) AS del_min,
      |         max(pc) AS del_max
      |  FROM b
      |  WHERE (k % 3 = 1 AND k % 5 = 0)
      |     OR (((k % 3 = 0 AND k % 5 <> 0) OR (k % 3 = 1 AND k % 5 <> 0)
      |          OR k % 3 = 2) AND k % 7 = 0)
      |  GROUP BY pr),
      |st0 AS (SELECT pr, CAST(count(*) AS BIGINT) AS n, min(pc) AS min_pc,
      |               max(pc) AS max_pc FROM live0 GROUP BY pr),
      |st1 AS (SELECT pr, CAST(count(*) AS BIGINT) AS n, min(pc) AS min_pc,
      |               max(pc) AS max_pc FROM live1 GROUP BY pr),
      |st2 AS (SELECT pr, CAST(count(*) AS BIGINT) AS n, min(pc) AS min_pc,
      |               max(pc) AS max_pc FROM live2 GROUP BY pr)
      |SELECT CAST(0 AS BIGINT) AS version, pr AS o_orderpriority, n, min_pc, max_pc,
      |       CAST(0 AS BIGINT) AS recomputed
      |FROM st0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), s.pr, s.n, s.min_pc, s.max_pc,
      |       CAST(CASE WHEN d.del_n > 0 AND (d.del_min <= p.min_pc OR d.del_max >= p.max_pc)
      |                 THEN 1 ELSE 0 END AS BIGINT)
      |FROM st1 s LEFT JOIN st0 p ON p.pr = s.pr LEFT JOIN del1 d ON d.pr = s.pr
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), s.pr, s.n, s.min_pc, s.max_pc,
      |       CAST(CASE WHEN d.del_n > 0 AND (d.del_min <= p.min_pc OR d.del_max >= p.max_pc)
      |                 THEN 1 ELSE 0 END AS BIGINT)
      |FROM st2 s LEFT JOIN st1 p ON p.pr = s.pr LEFT JOIN del2 d ON d.pr = s.pr""".stripMargin
  }

  /** the maintained view after all batches — the oracle recomputes it from
    * scratch over the full fact, so the gate proves the delta-merge path
    * reaches the same state as a full refresh
    */
  def ivmJoinView(s: SparkSession, dir: String): DataFrame =
    TableLog.read(s, revenueMv(s, dir))
      .select(col("n_name"), col("o_orderpriority"),
        col("n_orders"), col("revenue_cents"))

  private val ivmJoinViewSql =
    """SELECT n_name, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("ivm_join_view", ivmJoinView, Some(ivmJoinViewSql)),
    Q("ivm_cdc_view", ivmCdcView, Some(ivmCdcViewSql)),
    Q("ivm_minmax_view", ivmMinmaxView, Some(ivmMinmaxViewSql)))
}
