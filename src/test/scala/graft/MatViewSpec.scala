package graft

import graft.sources.{MatView, MatViewRewrite, TableLog}
import graft.sources.MatView.AggSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

/** Materialized-view maintenance + optimizer routing laws:
  *
  *  - a routed aggregate PLANS against the view's file relation (no base
  *    scan survives in the optimized plan) and returns bit-identical rows
  *    to the direct aggregate — for count(*) / count(c) / sum / avg /
  *    min / max, for a coarser group-by (re-aggregation), and under a
  *    filter on a view group column;
  *  - anything the view cannot prove falls through UNREWRITTEN: a filter
  *    on a non-group column, a distinct aggregate, a non-materialized
  *    function, a stale view (base committed past it), a time-travel read
  *    of any other version;
  *  - refresh folds the change feed incrementally (append-only and
  *    signed-delete ranges), falls back to a full recompute only for
  *    min/max under deletes, and keeps the sum-NULL-iff-no-non-null
  *    invariant when a fold cancels every non-null value.
  */
class MatViewSpec extends SparkSpec {

  private def root(tag: String): String = {
    val d = Scratch.dir(s"graft_mvspec_$tag", "x")
    Scratch.wipe(d)
    d
  }

  /** base rows: (k grouping key, g secondary key, v integral payload —
    * nullable to exercise the sum-null invariant)
    */
  private def baseDf(rows: Seq[(String, String, java.lang.Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "g", "v")
  }

  private val seed: Seq[(String, String, java.lang.Long)] = Seq(
    ("a", "x", 1L), ("a", "x", 2L), ("a", "y", 10L),
    ("b", "x", 5L), ("b", "y", null), ("c", "z", 7L))

  private def enable(view: String): Unit = {
    org.apache.spark.sql.graftx.GraftExtensions.register(spark)
    spark.conf.set("spark.graft.matview.paths", view)
  }

  private def disable(): Unit =
    spark.conf.set("spark.graft.matview.paths", "")

  /** catalog NAME must be unique per scratch root: Spark caches catalog
    * instances by name, so re-pointing an existing name's `.root` conf
    * would silently keep serving the old directory
    */
  private def catalogSql(name: String, dir: String, sql: String): DataFrame = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", dir)
    spark.sql(sql)
  }

  /** scans surviving in the optimized plan: v2 = un-routed base, files =
    * parquet relations (what the substituted view child plans as)
    */
  private def planScans(df: DataFrame): (Int, Seq[String]) = {
    val p = df.queryExecution.optimizedPlan
    val v2 = p.collect {
      case r: DataSourceV2Relation => r
      case r: DataSourceV2ScanRelation => r
    }.size
    val files = p.collect {
      case l: LogicalRelation => l.relation match {
        case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          f.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten
    (v2, files)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("routed aggregate plans against the view and matches the direct answer") {
    val d = root("route")
    val cat = "mvt_route"
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k", "g"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v"),
        AggSpec("min", "v"), AggSpec("max", "v")))
    val q =
      s"""SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s,
         |       avg(v) AS m, min(v) AS lo, max(v) AS hi
         |FROM $cat.t GROUP BY k""".stripMargin
    disable()
    val direct = sortedRows(catalogSql(cat, d, q))
    enable(s"$d/t_mv")
    val routed = catalogSql(cat, d, q)
    val (v2, files) = planScans(routed)
    assert(v2 == 0, s"base scan survived routing:\n${routed.queryExecution.optimizedPlan}")
    assert(files.exists(_.contains("t_mv")), s"view relation missing: $files")
    assert(sortedRows(routed) == direct)
  }

  test("filter on a view group column commutes; on any other column it blocks routing") {
    val d = root("filter")
    val cat = "mvt_filter"
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k", "g"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    enable(s"$d/t_mv")
    // g is a view group col the query does NOT group by: still routable
    val ok = catalogSql(cat, d,
      s"SELECT k, sum(v) AS s FROM $cat.t WHERE g = 'x' GROUP BY k")
    assert(planScans(ok)._1 == 0, "group-col filter must route")
    disable()
    val expect = sortedRows(catalogSql(cat, d,
      s"SELECT k, sum(v) AS s FROM $cat.t WHERE g = 'x' GROUP BY k"))
    enable(s"$d/t_mv")
    assert(sortedRows(ok) == expect)
    // v is aggregated, not a group col: the view cannot answer a v-filter
    val no = catalogSql(cat, d,
      s"SELECT k, count(*) AS n FROM $cat.t WHERE v > 3 GROUP BY k")
    assert(planScans(no)._1 > 0, "non-group-col filter must NOT route")
  }

  test("distinct aggregates and non-materialized functions fall through") {
    val d = root("noroute")
    val cat = "mvt_noroute"
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    enable(s"$d/t_mv")
    assert(planScans(catalogSql(cat, d,
      s"SELECT k, count(DISTINCT v) AS n FROM $cat.t GROUP BY k"))._1 > 0)
    assert(planScans(catalogSql(cat, d,
      s"SELECT k, min(v) AS lo FROM $cat.t GROUP BY k"))._1 > 0,
      "min is not materialized in this view — must not route")
  }

  test("staleness and time travel pin: only the exact materialized version routes") {
    val d = root("stale")
    val cat = "mvt_stale"
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    enable(s"$d/t_mv")
    val q = s"SELECT k, sum(v) AS s FROM $cat.t GROUP BY k"
    assert(planScans(catalogSql(cat, d, q))._1 == 0)
    // older snapshot: pinned version != materialized version
    assert(planScans(catalogSql(cat, d,
      s"SELECT k, sum(v) AS s FROM $cat.t VERSION AS OF 0 GROUP BY k"))._1 == 0,
      "v0 IS the materialized version here — routes")
    TableLog.commitAppend(baseDf(Seq(("a", "x", 100L))), s"$d/t")
    val stale = catalogSql(cat, d, q)
    assert(planScans(stale)._1 > 0, "stale view must not route")
    // and the un-routed answer sees the new row
    assert(stale.where(col("k") === "a").collect().head.getAs[Long]("s") == 113L)
    // but the OLD version still routes (the pin matches the sidecar)
    assert(planScans(catalogSql(cat, d,
      s"SELECT k, sum(v) AS s FROM $cat.t VERSION AS OF 0 GROUP BY k"))._1 == 0)
    val (_, mode) = MatView.refresh(spark, s"$d/t_mv")
    assert(mode == "incremental")
    val fresh = catalogSql(cat, d, q)
    assert(planScans(fresh)._1 == 0, "refreshed view must route again")
    assert(fresh.where(col("k") === "a").collect().head.getAs[Long]("s") == 113L)
  }

  test("incremental refresh folds signed deletes; sum goes NULL when its last non-null dies") {
    val d = root("fold")
    val cat = "mvt_fold"
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    // b loses its ONLY non-null v (5): sum must fold to NULL, not 0;
    // c dies entirely: its group must drop from the view
    TableLog.deleteWhere(spark, s"$d/t", "v = 5 OR k = 'c'")
    val (_, mode) = MatView.refresh(spark, s"$d/t_mv")
    assert(mode == "incremental", "sum/count views fold deletes incrementally")
    enable(s"$d/t_mv")
    val q = "SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s, avg(v) AS m " +
      s"FROM $cat.t GROUP BY k"
    val routed = catalogSql(cat, d, q)
    assert(planScans(routed)._1 == 0)
    disable()
    assert(sortedRows(routed) == sortedRows(catalogSql(cat, d, q)))
    enable(s"$d/t_mv")
    val b = routed.where(col("k") === "b").collect().head
    assert(b.getAs[Long]("n") == 1L && b.getAs[Long]("nv") == 0L)
    assert(b.isNullAt(b.fieldIndex("s")), "cancelled sum must surface NULL")
    assert(routed.where(col("k") === "c").isEmpty, "fully-deleted group must drop")
  }

  test("min/max under deletes falls back to full recompute; append-only stays incremental") {
    val d = root("minmax")
    val cat = "mvt_minmax"
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("min", "v"), AggSpec("max", "v")))
    TableLog.commitAppend(baseDf(Seq(("a", "x", 0L), ("c", "z", 99L))), s"$d/t")
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "incremental",
      "append-only min/max merges incrementally")
    // compaction churn (equal insert+delete multisets) must NOT trigger
    // the full fallback: every churned value is still live, so min/max
    // merging is a no-op and the signed counts cancel
    TableLog.optimize(spark, s"$d/t", nFiles = 1)
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "incremental",
      "rewrite churn nets to zero — must stay incremental")
    TableLog.deleteWhere(spark, s"$d/t", "v = 99")
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "full",
      "a deleted extreme is unrecoverable from partials — full recompute")
    enable(s"$d/t_mv")
    val q = s"SELECT k, min(v) AS lo, max(v) AS hi FROM $cat.t GROUP BY k"
    val routed = catalogSql(cat, d, q)
    assert(planScans(routed)._1 == 0)
    disable()
    assert(sortedRows(routed) == sortedRows(catalogSql(cat, d, q)))
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "noop")
  }

  test("refresh is crash-idempotent: a replayed range never double-counts") {
    val d = root("crash")
    import java.nio.file.{Files, Paths}
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    TableLog.commitAppend(baseDf(Seq(("a", "x", 50L))), s"$d/t")
    val sidecar = Paths.get(s"$d/t_mv/_matview.txt")
    val preMeta = Files.readAllBytes(sidecar)
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "incremental")
    val aSum = TableLog.read(spark, s"$d/t_mv").where(col("k") === "a")
      .collect().head.getAs[Long]("sum_v")
    assert(aSum == 63L)
    // simulate a crash BETWEEN the view commit and the sidecar update:
    // the commit landed but the sidecar still claims the old base version
    Files.write(sidecar, preMeta)
    val (v2, mode2) = MatView.refresh(spark, s"$d/t_mv")
    // sidecar repair spots the committed mv_<nonce>_<from>_<head> tag and
    // fast-forwards WITHOUT recomputing the fold — the replay is a noop
    assert(mode2 == "noop")
    // the committed view must still hold exactly one application — a double
    // application would read 63 + 50 = 113 here
    assert(TableLog.read(spark, s"$d/t_mv").where(col("k") === "a")
      .collect().head.getAs[Long]("sum_v") == 63L,
      "replayed refresh double-counted the change range")
    // and the sidecar is repaired, so the next refresh is a noop
    assert(MatView.meta(s"$d/t_mv").get.baseVersion == v2)
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "noop")
  }

  test("crash-replay stays idempotent when the base ADVANCES before the replay") {
    val d = root("crashadv")
    import java.nio.file.{Files, Paths}
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    TableLog.commitAppend(baseDf(Seq(("a", "x", 50L))), s"$d/t")
    val sidecar = Paths.get(s"$d/t_mv/_matview.txt")
    val preMeta = Files.readAllBytes(sidecar)
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "incremental")
    // crash between the view commit and the sidecar update...
    Files.write(sidecar, preMeta)
    // ...and the BASE COMMITS AGAIN before the refresh replays: the replay's
    // tag would be mv_<nonce>_<from>_<newHead> — a DIFFERENT tag than the
    // committed mv_<nonce>_<from>_<to>, so without sidecar repair the
    // already-merged (from, to] deltas (the +50 row) fold a second time
    TableLog.commitAppend(baseDf(Seq(("a", "y", 7L))), s"$d/t")
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "incremental")
    val aSum = TableLog.read(spark, s"$d/t_mv").where(col("k") === "a")
      .collect().head.getAs[Long]("sum_v")
    assert(aSum == 1L + 2L + 10L + 50L + 7L,
      s"advanced-base replay double-counted the crashed range: sum_v=$aSum")
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "noop")
  }

  test("routing reads the view AS OF the sidecar's pinned version, not its head") {
    val d = root("pinview")
    val cat = "mvt_pinview"
    import java.nio.file.{Files, Paths}
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    val sidecar = Paths.get(s"$d/t_mv/_matview.txt")
    val preMeta = Files.readAllBytes(sidecar)
    TableLog.commitAppend(baseDf(Seq(("a", "x", 100L))), s"$d/t")
    assert(MatView.refresh(spark, s"$d/t_mv")._2 == "incremental")
    // simulate mid-refresh: view HEAD already reflects base v1 while the
    // sidecar still claims base v0 (the window between the view commit and
    // writeMeta). A query pinned at v0 matches the sidecar and routes — it
    // must see the v0 answer (a=13), not the fresher view head (a=113).
    Files.write(sidecar, preMeta)
    enable(s"$d/t_mv")
    val routed = catalogSql(cat, d,
      s"SELECT k, sum(v) AS s FROM $cat.t VERSION AS OF 0 GROUP BY k")
    assert(planScans(routed)._1 == 0, "pinned-version query must still route")
    assert(routed.where(col("k") === "a").collect().head.getAs[Long]("s") == 13L,
      "routing served fresher-than-snapshot view contents")
  }

  test("create rejects non-integral sums; subset group-by re-aggregates correctly") {
    val d = root("guard")
    val cat = "mvt_guard"
    import spark.implicits._
    TableLog.commitAppend(
      Seq(("a", "x", 1L, 1.5), ("a", "y", 2L, 2.5)).toDF("k", "g", "v", "w"),
      s"$d/t")
    val e = intercept[IllegalArgumentException] {
      MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
        Seq(AggSpec("count", "*"), AggSpec("sum", "w")))
    }
    assert(e.getMessage.contains("cannot route exactly"))
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k", "g"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    enable(s"$d/t_mv")
    // coarser than the view's (k, g): re-aggregation over view partials
    val routed = catalogSql(cat, d, s"SELECT k, count(*) AS n, sum(v) AS s FROM $cat.t GROUP BY k")
    assert(planScans(routed)._1 == 0)
    val r = routed.collect().head
    assert(r.getAs[Long]("n") == 2L && r.getAs[Long]("s") == 3L)
  }

  test("maintainStream follows base commits; a restarted stream resumes from the sidecar") {
    val d = root("stream")
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    TableLog.commitAppend(baseDf(Seq(("a", "x", 100L), ("d", "w", 1L))), s"$d/t")
    TableLog.deleteWhere(spark, s"$d/t", "k = 'c'")
    val q1 = MatView.maintainStream(spark, s"$d/t_mv", s"$d/ckpt")
    q1.awaitTermination()
    def viewRows(): Map[String, (Long, Any)] =
      TableLog.read(spark, s"$d/t_mv").collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("_cnt"), r.get(r.fieldIndex("sum_v"))))
        .toMap
    val after1 = viewRows()
    assert(after1("a")._1 == 4L && after1("a")._2 == 113L)
    assert(!after1.contains("c"), "deleted group must drop")
    assert(after1("d") == ((1L, 1L)))
    assert(MatView.meta(s"$d/t_mv").get.baseVersion ==
      TableLog.versions(s"$d/t").last)
    // more commits, then a RESTART from the same checkpoint: the sidecar
    // is the refresh cursor, so the new stream folds only the new range
    TableLog.commitAppend(baseDf(Seq(("d", "w", 9L))), s"$d/t")
    val q2 = MatView.maintainStream(spark, s"$d/t_mv", s"$d/ckpt")
    q2.awaitTermination()
    assert(viewRows()("d") == ((2L, 10L)))
    // idle restart: nothing new — a no-op, not a re-fold
    val q3 = MatView.maintainStream(spark, s"$d/t_mv", s"$d/ckpt")
    q3.awaitTermination()
    assert(viewRows() == (after1 + ("d" -> ((2L, 10L)))))
  }

  test("routing reaches the fresh child sessions a thrift server creates") {
    // the JDBC serving path: child sessions are newSession() — they carry
    // the parent's EXTENSIONS object (the rule) and initialize SQLConf
    // from the SparkContext conf (the gate + catalog). Prove both hops
    // with a real extensions-built parent over the shared context.
    val d = root("child")
    TableLog.commitAppend(baseDf(seed), s"$d/t")
    MatView.create(spark, s"$d/t_mv", s"$d/t", Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    import org.apache.spark.sql.SparkSession
    val old = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val parent = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new org.apache.spark.sql.graftx.GraftExtensions)
        .getOrCreate()
      org.apache.spark.sql.graftx.ContextConf.set(parent.sparkContext,
        "spark.sql.catalog.mvt_child", classOf[graft.sources.GraftCatalog].getName)
      org.apache.spark.sql.graftx.ContextConf.set(parent.sparkContext,
        "spark.sql.catalog.mvt_child.root", d)
      org.apache.spark.sql.graftx.ContextConf.set(parent.sparkContext,
        "spark.graft.matview.paths", s"$d/t_mv")
      val child = parent.newSession()
      val routed = child.sql("SELECT k, sum(v) AS s FROM mvt_child.t GROUP BY k")
      assert(planScans(routed)._1 == 0,
        s"child session must route:\n${routed.queryExecution.optimizedPlan}")
      assert(routed.collect().map(r => r.getString(0)).sorted.toSeq ==
        Seq("a", "b", "c"))
    } finally {
      org.apache.spark.sql.graftx.ContextConf.set(old.sparkContext,
        "spark.graft.matview.paths", "")
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("registry query end to end at sf0.001") {
    disable()
    val df = MatView.queries("matview_routed")(spark, sfDir)
    assert(df.count() > 0)
    assert(df.columns.sorted.toSeq ==
      Seq("cents", "mean_cents", "n", "o_orderpriority", "o_orderstatus"))
  }
}
