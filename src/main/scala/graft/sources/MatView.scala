package graft.sources

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType}

import java.nio.file.{Path, Paths}

/** Materialized aggregate views over [[TableLog]] tables, maintained
  * incrementally from the change feed and — the point — ROUTED TO by the
  * optimizer: [[MatViewRewrite]] rewrites an `Aggregate` over a catalog
  * base-table scan onto the (many-orders-of-magnitude smaller) view
  * relation whenever the view provably answers it. This is the second
  * genuinely cost-based plan decision in the engine (after the
  * stats-driven broadcast choice in [[GraftLogScan.estimateStatistics]]):
  * at 100 TB a per-status rollup is KBs, and a dashboard aggregate that
  * routes reads those KBs instead of re-scanning the fact table.
  *
  * Correctness discipline:
  *  - The view sidecar records the BASE VERSION it reflects; the rule only
  *    routes a scan PINNED at exactly that version. Since catalog scans pin
  *    their snapshot version at load, a stale view simply stops matching
  *    after the next base commit (and a `VERSION AS OF` read of any other
  *    version never matches) — staleness can make the rewrite a no-op,
  *    never wrong.
  *  - Only EXACT aggregates route: `count(*)`, and `count/sum/avg` over
  *    integral columns (partial sums are exact longs, so the re-aggregated
  *    answer is bit-identical to the direct one — a double sum would
  *    reassociate), plus `min`/`max` (order-insensitive for any type).
  *  - Each `sum_c` partial carries its non-null count `cnt_c`, and the
  *    maintenance invariant is `sum_c IS NULL iff cnt_c == 0`: a group
  *    whose last non-null value is deleted folds to sum 0 with count 0 and
  *    must surface as NULL, exactly like the direct aggregate.
  *
  * Incremental maintenance ([[refresh]]): fold the change feed's signed
  * deltas (`+row` on insert, `-row` on delete) into the view — cost scales
  * with the CHANGE RANGE, never the base table. `min`/`max` are not
  * mergeable under deletes (the extreme may be the deleted row), so a
  * range containing deletes falls back to a full recompute when the view
  * carries them — the same fallback every IVM engine takes.
  */
object MatView extends QueryPack {

  /** one aggregate the view materializes: func ∈ count|sum|min|max, with
    * col = "*" for count(*) (always materialized as `_cnt` regardless)
    */
  final case class AggSpec(func: String, col: String)

  final case class Meta(
      viewDir: String, base: String, baseVersion: Long,
      groups: Seq[String], aggs: Seq[AggSpec], nonce: String,
      viewVersion: Long = -1L)

  /** view-relation column holding a spec's partial */
  def viewCol(a: AggSpec): String = a match {
    case AggSpec("count", "*") => "_cnt"
    case AggSpec(f, c) => s"${f}_$c"
  }

  private def metaFile(viewDir: String): Path =
    Paths.get(viewDir).resolve("_matview.txt")

  private def norm(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  /** the registry entry a view directory carries (None: not a view) */
  def meta(viewDir: String): Option[Meta] = {
    val ls = LogText.lines(metaFile(viewDir))
    if (ls.isEmpty) return None
    val kv = ls.filter(_.contains("="))
      .map(l => l.splitAt(l.indexOf('='))).map { case (k, v) => (k, v.drop(1)) }
    val m = kv.filterNot(_._1 == "agg").toMap
    val aggs = kv.collect { case ("agg", s) =>
      val Array(f, c) = s.split(":", 2); AggSpec(f, c)
    }
    Some(Meta(norm(viewDir), m("base"), m("baseVersion").toLong,
      m("groups").split(",").toSeq, aggs.toSeq,
      m.getOrElse("nonce", "none"),
      m.getOrElse("viewVersion", "-1").toLong))
  }

  private def writeMeta(m: Meta): Unit = {
    val lines =
      Seq(s"base=${m.base}", s"baseVersion=${m.baseVersion}",
        s"groups=${m.groups.mkString(",")}", s"nonce=${m.nonce}",
        s"viewVersion=${m.viewVersion}") ++
        m.aggs.map(a => s"agg=${a.func}:${a.col}")
    LogText.replace(metaFile(m.viewDir), lines)
  }

  private def integral(t: DataType): Boolean =
    t == ByteType || t == ShortType || t == IntegerType || t == LongType

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Materialize `SELECT groups, count(*), aggs FROM base GROUP BY groups`
    * at the base's head version into `viewDir` and register the sidecar.
    * `sum` columns must be integral (exactness discipline above); every
    * sum also materializes its non-null count.
    */
  def create(spark: SparkSession, viewDir: String, base: String,
      groups: Seq[String], aggs: Seq[AggSpec]): Long = {
    require(groups.nonEmpty, "materialized views need at least one group column")
    (groups ++ aggs.map(_.col).filter(_ != "*")).foreach(c =>
      require(Ident.pattern.matcher(c).matches(), s"illegal column name '$c'"))
    aggs.foreach(a => require(Set("count", "sum", "min", "max")(a.func) &&
      (a.col == "*") == (a.func == "count"),
      s"unsupported agg ${a.func}(${a.col}) — count(*), sum/min/max(col)"))
    val head = TableLog.versions(base).lastOption.getOrElse(
      sys.error(s"no committed versions under $base"))
    val df = TableLog.read(spark, base, Some(head))
    aggs.filter(_.func == "sum").foreach { a =>
      val t = df.schema(df.schema.fieldIndex(a.col)).dataType
      require(integral(t),
        s"sum(${a.col}: $t) cannot route exactly — only integral sums materialize")
    }
    val v = TableLog.commitOverwrite(materialize(df, groups, aggs), viewDir)
    // the nonce scopes refresh txn tags to THIS materialization: a
    // re-created view (or a rebuilt base restarting its version numbers)
    // can repeat a (from, to] range, and an old same-range tag in the view
    // log would silently no-op the new fold
    writeMeta(Meta(norm(viewDir), norm(base), head, groups, aggs,
      java.util.UUID.randomUUID().toString.take(12), viewVersion = v))
    v
  }

  private def materialize(df: DataFrame, groups: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val cols = count(lit(1)).as("_cnt") +: aggs.flatMap {
      case AggSpec("count", _) => Seq.empty
      case a @ AggSpec("sum", c) =>
        Seq(sum(col(c)).as(viewCol(a)), count(col(c)).as(s"cnt_$c"))
      case a @ AggSpec("min", c) => Seq(min(col(c)).as(viewCol(a)))
      case a @ AggSpec("max", c) => Seq(max(col(c)).as(viewCol(a)))
      case a => sys.error(s"unreachable: $a")
    }
    df.groupBy(groups.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Advance the view to the base's head. Returns (version reflected, mode)
    * with mode ∈ noop | incremental | full — incremental folds ONLY the
    * change feed (cost ∝ changes); full re-materializes (taken when the
    * range deletes rows and the view carries non-mergeable min/max).
    */
  /** committed refresh tags `mv_<nonce>_<from>_<to>` in the view log with
    * this exact `from`: (to, view version carrying the tag), max by `to`.
    * This is the crash-repair source of truth — the tag is written
    * atomically WITH the view commit, so its presence proves the view
    * already reflects `(from, to]` even when the sidecar update never ran.
    */
  private def committedRefreshTo(
      viewDir: String, nonce: String, from: Long): Option[(Long, Long)] = {
    val prefix = s"mv_${nonce}_${from}_"
    TableLog.versions(viewDir).flatMap { v =>
      TableLog.txnsAt(viewDir, v).collect {
        case t if t.startsWith(prefix) && t.length > prefix.length &&
          t.drop(prefix.length).forall(_.isDigit) =>
          (t.drop(prefix.length).toLong, v)
      }
    }.sortBy(_._1).lastOption
  }

  def refresh(spark: SparkSession, viewDir: String): (Long, String) = {
    val m0 = meta(viewDir).getOrElse(sys.error(s"$viewDir carries no _matview.txt"))
    // SIDECAR REPAIR: a crash between commitOnceOverwrite and writeMeta
    // leaves the sidecar at <from> while the view already holds (from, to].
    // If the base has advanced past <to> by the time refresh replays, the
    // new tag mv_<nonce>_<from>_<newHead> would NOT dedupe against the
    // committed mv_<nonce>_<from>_<to>, and the fold would merge the
    // already-merged (from, to] deltas a second time — a permanent double
    // count. Repair first: any committed tag with this exact <from> proves
    // the view reflects its <to>; advance the sidecar there and fold only
    // the genuinely missing (to, head] range.
    val m = committedRefreshTo(viewDir, m0.nonce, m0.baseVersion) match {
      case Some((to, vv)) if to > m0.baseVersion =>
        val repaired = m0.copy(baseVersion = to, viewVersion = vv)
        writeMeta(repaired)
        repaired
      case _ => m0
    }
    val head = TableLog.versions(m.base).lastOption.getOrElse(
      sys.error(s"base ${m.base} has no committed versions"))
    if (head == m.baseVersion) return (head, "noop")
    require(head > m.baseVersion,
      s"base ${m.base} head $head predates the view's ${m.baseVersion} — " +
        "log recreated at the same path; recreate the view")
    val feed = TableLog.changeFeed(spark, m.base, m.baseVersion, head)
    val hasMinMax = m.aggs.exists(a => a.func == "min" || a.func == "max")
    // min/max partials are not mergeable when a row NET-disappears (the
    // extreme may be the departed row) — but rewrite CHURN (optimize/
    // zorder/rollback re-adds) emits equal insert+delete multisets whose
    // values are all still live, and min/max-merging a live value is a
    // no-op. So the full-recompute fallback keys on net row loss, not on
    // the mere presence of delete deltas: one aggregate over the change
    // range (all data columns, signed) decides — cost ∝ changes.
    val netLoss = hasMinMax && {
      val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val dataCols = feed.columns.filterNot(
        c => c == "_change_type" || c == "_commit_version").toSeq
      !feed.groupBy(dataCols.map(col): _*).agg(sum(sgn).as("net"))
        .where(col("net") < 0).isEmpty
    }
    val mode = if (netLoss) "full" else "incremental"
    val next = mode match {
      case "full" =>
        materialize(TableLog.read(spark, m.base, Some(head)), m.groups, m.aggs)
      case _ =>
        val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
        val sums = m.aggs.filter(_.func == "sum").map(_.col)
        val mins = m.aggs.filter(_.func == "min").map(_.col)
        val maxs = m.aggs.filter(_.func == "max").map(_.col)
        val deltaCols = (sum(sgn).as("_cnt") +:
          (sums.flatMap(c => Seq(
            sum(sgn * col(c)).as(s"sum_$c"),
            sum(when(col(c).isNotNull, sgn).otherwise(0L)).as(s"cnt_$c"))) ++
            mins.map(c => min(col(c)).as(s"min_$c")) ++
            maxs.map(c => max(col(c)).as(s"max_$c"))))
        val delta = feed.groupBy(m.groups.map(col): _*)
          .agg(deltaCols.head, deltaCols.tail: _*)
        val prior = TableLog.read(spark, viewDir)
        val mergeCols = (sum(col("_cnt")).as("_cnt") +:
          (sums.flatMap(c => Seq(
            sum(col(s"sum_$c")).as(s"sum_$c"), sum(col(s"cnt_$c")).as(s"cnt_$c"))) ++
            mins.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
            maxs.map(c => max(col(s"max_$c")).as(s"max_$c"))))
        val merged = prior.unionByName(delta)
          .groupBy(m.groups.map(col): _*)
          .agg(mergeCols.head, mergeCols.tail: _*)
          .where(col("_cnt") > 0)
        // null-iff-no-non-null invariant: a signed fold that cancels every
        // non-null value leaves sum 0 / count 0 — surface NULL, like the
        // direct aggregate would
        sums.foldLeft(merged)((df, c) => df.withColumn(s"sum_$c",
          when(col(s"cnt_$c") > 0, col(s"sum_$c"))))
    }
    // txn-tagged with the exact range: a refresh crash BETWEEN the view
    // commit and the sidecar update would otherwise re-fold the same
    // deltas onto the already-merged view next time (double count). With
    // the tag, the replayed commit no-ops (its recomputed `next` is
    // discarded — wrong, but never published) and the sidecar repair
    // completes, making refresh crash-idempotent end to end.
    val committed = TableLog.commitOnceOverwrite(next, viewDir,
      s"mv_${m.nonce}_${m.baseVersion}_$head")
    // pin the sidecar to the view version that CARRIES this range: replays
    // (committed = None) resolve the tag's version instead, so the
    // (baseVersion, viewVersion) pair always names a consistent snapshot
    val vv = committed.orElse(
      committedRefreshTo(viewDir, m.nonce, m.baseVersion).map(_._2)).getOrElse(
      TableLog.versions(viewDir).last)
    writeMeta(m.copy(baseVersion = head, viewVersion = vv))
    (head, mode)
  }

  /** CONTINUOUS maintenance: drive [[refresh]] off the base's change-feed
    * stream — the view follows every base commit within one trigger, and
    * the sidecar stays the refresh cursor, so the stream needs no state
    * of its own: each trigger's refresh folds exactly (sidecar, head],
    * the txn-tagged commit makes crash/replay a no-op, and a restart
    * simply resumes from whatever the sidecar already reflects. The
    * micro-batch CONTENT is deliberately unused (the change feed re-read
    * inside refresh is the same metadata-scoped range) — the stream is
    * the TRIGGER, the sidecar is the truth, which is what makes the
    * composition idempotent without coordinating two cursors.
    */
  def maintainStream(spark: SparkSession, viewDir: String,
      checkpointDir: String,
      versionsPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    val m = meta(viewDir).getOrElse(sys.error(s"$viewDir carries no _matview.txt"))
    spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", m.base)
      // the trigger only needs the commit boundary, not the payload —
      // project the feed to the cheapest single column
      .option("columns", m.groups.head)
      .option("versionsPerTrigger", versionsPerTrigger.toString)
      .load()
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, viewDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
  }

  // ---------------------------------------------------------------------
  // registry query — the routed SQL aggregate, hash-gated end to end
  // ---------------------------------------------------------------------

  private val builtQ = graft.Scratch.fixture[(String, String)]("graft_mv")

  /** scratch base log (orders with an exact cents column, one append + one
    * DV delete past the view's creation) + its maintained view
    */
  private def built(s: SparkSession, dir: String): (String, String) =
    builtQ(dir) { root =>
      val base = s"$root/orders_mv"
      val view = s"$root/orders_mv_rollup"
      val orders = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      TableLog.commitAppend(orders.where(col("o_orderkey") % 4 =!= 0), base)
      create(s, view, base, Seq("o_orderstatus", "o_orderpriority"),
        Seq(AggSpec("count", "*"), AggSpec("sum", "cents")))
      // past-creation churn the refresh must fold: an append commit, then a
      // DV delete — both land as signed change-feed deltas (no min/max in
      // the view, so the delete range still folds incrementally)
      TableLog.commitAppend(orders.where(col("o_orderkey") % 4 === 0), base)
      TableLog.deleteWhere(s, base, "o_orderkey % 10 = 7")
      val (_, mode) = refresh(s, view)
      require(mode == "incremental", s"expected incremental refresh, got $mode")
      (base, view)
    }

  /** Per-(status, priority) count / exact cents sum / mean cents, as plain
    * SQL through the catalog with [[MatViewRewrite]] enabled — asserted to
    * PLAN against the maintained view relation (never the base files), and
    * hash-gated against the oracle's direct aggregate of the raw table, so
    * the whole create → append → DV-delete → incremental-refresh → route
    * path must reproduce the base answer bit for bit.
    */
  def matviewRoutedQ(s: SparkSession, dir: String): DataFrame = {
    val (base, view) = built(s, dir)
    org.apache.spark.sql.graftx.GraftExtensions.register(s)
    val root = base.substring(0, base.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graftmv", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmv.root", root)
    s.conf.set("spark.graft.matview.paths", view)
    val df = s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       count(*) AS n, sum(cents) AS cents,
        |       avg(cents) AS mean_cents
        |FROM graftmv.orders_mv
        |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.getClass.getSimpleName
      case r: DataSourceV2Relation => r.table.getClass.getSimpleName
    }
    require(scans.isEmpty,
      s"aggregate must route to the view's file relation, still scans: $scans")
    df
  }

  /** The re-aggregation face of routing: a COARSER group-by (status only,
    * view keyed on status+priority) under a filter on the OTHER view group
    * column — the rule must commute the filter onto the view and sum the
    * partials per surviving group. Same maintained view as
    * [[matviewRoutedQ]], so the gate also replays the refresh fold.
    */
  def matviewSubsetQ(s: SparkSession, dir: String): DataFrame = {
    val (base, view) = built(s, dir)
    org.apache.spark.sql.graftx.GraftExtensions.register(s)
    val root = base.substring(0, base.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graftmv", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmv.root", root)
    s.conf.set("spark.graft.matview.paths", view)
    val df = s.sql(
      """SELECT o_orderstatus, count(*) AS n, sum(cents) AS cents
        |FROM graftmv.orders_mv
        |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |GROUP BY o_orderstatus""".stripMargin)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r
      case r: DataSourceV2Relation => r
    }
    require(scans.isEmpty, "subset aggregate must route to the view relation")
    df
  }

  private val matviewSubsetSql =
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_orderkey % 10 <> 7
      |  AND o_orderpriority IN ('1-URGENT', '5-LOW')
      |GROUP BY o_orderstatus""".stripMargin

  private val matviewRoutedSql =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS cents,
      |       CAST(sum(cents) AS BIGINT) / CAST(count(*) AS DOUBLE) AS mean_cents
      |FROM (SELECT o_orderstatus, o_orderpriority,
      |             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders WHERE o_orderkey % 10 <> 7) t
      |GROUP BY o_orderstatus, o_orderpriority""".stripMargin

  override def all: Seq[Q] = Seq(
    Q("matview_routed", matviewRoutedQ, Some(matviewRoutedSql)),
    Q("matview_subset_rollup", matviewSubsetQ, Some(matviewSubsetSql)))
}

/** The routing rule — conf-gated by `spark.graft.matview.paths` (comma-
  * separated view directories; inert otherwise, the same discipline as
  * [[org.apache.spark.sql.graftx.RangeJoinRewrite]]). Matches
  *
  *   Aggregate(groups ⊆ view.groups,
  *     exact aggs derivable from the view's partials,
  *     [Filter on view group columns] over a base scan pinned at
  *     EXACTLY the version the view reflects)
  *
  * in both the pre-pushdown ([[DataSourceV2Relation]] of
  * [[GraftLogTable]] — the `spark.sql.extensions` injection point) and
  * post-pushdown ([[DataSourceV2ScanRelation]] of [[GraftLogScan]] — the
  * `extraOptimizations` injection point) shapes, and substitutes the
  * view's (DV-merged) file relation with a re-aggregation on top:
  * count(*)→sum(_cnt), sum(c)→sum(sum_c), count(c)→sum(cnt_c),
  * avg(c)→sum(sum_c)/sum(cnt_c) — an EXACT long sum and one final
  * correctly-rounded division. Note Spark's own Average over integral
  * input accumulates in a DOUBLE buffer (per-row rounding), so once a
  * group's sum exceeds 2^53 the routed answer is the MORE ACCURATE of the
  * two and may differ from the unrouted plan in the last ulp — accepted
  * deliberately (it matches the exact-sum oracle form; see
  * `matviewRoutedSql`). min/max(c)→min/max of the partials. Output
  * attribute ids/names/types are preserved, so parent operators are
  * untouched.
  */
object MatViewRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val paths = conf.getConfString("spark.graft.matview.paths", "")
    if (paths.trim.isEmpty) return plan
    val metas = paths.split(",").map(_.trim).filter(_.nonEmpty)
      .toSeq.flatMap(MatView.meta(_))
    if (metas.isEmpty) return plan
    plan.transformDown {
      case agg: Aggregate =>
        metas.iterator.flatMap(rewrite(agg, _)).nextOption().getOrElse(agg)
    }
  }

  /** base scan under an Aggregate: (log path, pinned version, filters on
    * the way down). Unwraps attribute-only Projects; the strict class
    * check keeps row-level-operation scans (a subclass) out of scope.
    */
  private def baseScan(p: LogicalPlan): Option[(String, Long, Seq[Expression])] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftLogTable => Some((t.logPath, t.logVersion, Nil))
        case _ => None
      }
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: GraftLogScan if s.getClass == classOf[GraftLogScan] =>
          Some((s.logPath, s.logVersion, Nil))
        case _ => None
      }
      case Filter(cond, child) =>
        baseScan(child).map { case (d, v, cs) => (d, v, cond +: cs) }
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        baseScan(child)
      case _ => None
    }

  private def norm(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  private def rewrite(agg: Aggregate, m: MatView.Meta): Option[Aggregate] = {
    val (path, v, conds) = baseScan(agg.child).getOrElse(return None)
    if (norm(path) != m.base || v != m.baseVersion) return None

    val groupSet = m.groups.map(_.toLowerCase).toSet
    // grouping keys: plain base columns, each one of the view's group cols
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if groupSet(a.name.toLowerCase) => a
      case _ => return None
    }
    // pushed-down filters may only touch view group columns (then they
    // commute with the coarser re-aggregation)
    if (!conds.forall(c => c.deterministic &&
      c.references.forall(r => groupSet(r.name.toLowerCase)))) return None

    // Read the view AS OF the sidecar's pinned version, NOT its head: during
    // a refresh's window between the view commit and the sidecar update, the
    // head already reflects a NEWER base — routing a query pinned at the old
    // base version onto it would return fresher-than-snapshot answers. The
    // (baseVersion, viewVersion) pair is written atomically, so reading at
    // viewVersion keeps staleness a routing no-op, never a wrong answer.
    // (-1: pre-pinning sidecar — fall back to head, the old behavior.)
    val view = TableLog.read(SparkSession.active, m.viewDir,
        if (m.viewVersion >= 0) Some(m.viewVersion) else None)
      .queryExecution.analyzed
    def vattr(name: String): Option[Attribute] =
      view.output.find(_.name.equalsIgnoreCase(name))
    val specSet = m.aggs.map(a => (a.func, a.col.toLowerCase)).toSet

    def sumOf(a: Attribute): Expression =
      AggregateExpression(Sum(a), Complete, isDistinct = false)
    def nonNull(e: Expression): Expression = Coalesce(Seq(e, Literal(0L)))

    def mapAggFn(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case c: Count if c.children.forall(ch => ch.foldable && !ch.nullable) =>
          vattr("_cnt").map(a => nonNull(sumOf(a)))
        case c: Count => c.children match {
          case Seq(a: AttributeReference) if specSet(("sum", a.name.toLowerCase)) =>
            vattr(s"cnt_${a.name}").map(x => nonNull(sumOf(x)))
          case _ => None
        }
        case s: Sum => s.child match {
          case a: AttributeReference if specSet(("sum", a.name.toLowerCase)) =>
            vattr(s"sum_${a.name}").map(sumOf)
          case _ => None
        }
        case av: Average => av.child match {
          case a: AttributeReference if specSet(("sum", a.name.toLowerCase)) =>
            for { su <- vattr(s"sum_${a.name}"); ct <- vattr(s"cnt_${a.name}") }
              yield Divide(Cast(sumOf(su), DoubleType), Cast(sumOf(ct), DoubleType))
          case _ => None
        }
        case mn: Min => mn.child match {
          case a: AttributeReference if specSet(("min", a.name.toLowerCase)) =>
            vattr(s"min_${a.name}").map(x =>
              AggregateExpression(Min(x), Complete, isDistinct = false))
          case _ => None
        }
        case mx: Max => mx.child match {
          case a: AttributeReference if specSet(("max", a.name.toLowerCase)) =>
            vattr(s"max_${a.name}").map(x =>
              AggregateExpression(Max(x), Complete, isDistinct = false))
          case _ => None
        }
        case _ => None
      }
    }

    def mapExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => mapAggFn(ae)
      case a: AttributeReference => vattr(a.name)
      case _ if e.children.isEmpty => Some(e)
      case _ if e.deterministic =>
        val kids = e.children.map(mapExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(e.withNewChildren(kids.map(_.get)))
      case _ => None
    }

    val results = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        vattr(a.name).map(x => Alias(x, a.name)(exprId = a.exprId))
          .getOrElse(return None)
      case al: Alias =>
        mapExpr(al.child).map(c =>
          Alias(c, al.name)(al.exprId, al.qualifier, al.explicitMetadata,
            al.nonInheritableMetadataKeys)).getOrElse(return None)
      case _ => return None
    }
    val newGroups = groupAttrs.map(a => vattr(a.name).getOrElse(return None))
    val newCond = conds.map(c => c.transform {
      case a: AttributeReference => vattr(a.name).getOrElse(return None)
    }).reduceOption(And)
    val child = newCond.map(Filter(_, view)).getOrElse(view)
    Some(Aggregate(newGroups, results, child))
  }
}
