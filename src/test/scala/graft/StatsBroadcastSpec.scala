package graft

import graft.sources.{GraftCatalog, TableLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The cost-based broadcast rule ([[graft.sources.StatsBroadcastRewrite]]):
  * a selective equality filter on an NDV-indexed log column flips a
  * would-be shuffle join to a broadcast of the filtered side — and ONLY
  * with evidence: rule off, NDV missing, or an estimate above the
  * threshold all leave Spark's plan untouched. Row identity across modes.
  */
class StatsBroadcastSpec extends SparkSpec {

  private def joins(df: DataFrame): (Int, Int) = {
    val p = df.queryExecution.sparkPlan
    (p.collect { case b: BroadcastHashJoinExec => b }.size,
      p.collect { case s: SortMergeJoinExec => s }.size)
  }

  test("NDV evidence flips a shuffle join to broadcast; no evidence leaves it alone") {
    val root = Scratch.dir("graft_sbr", "x")
    Scratch.wipe(root)
    // fact: 50k distinct u (the filter column), payload padding so the
    // table is well above the broadcast threshold; dim: 50k rows, too big
    // to broadcast on size alone
    TableLog.commitAppend(
      spark.range(0, 50000).selectExpr(
        "id AS k", "id AS u", "md5(CAST(id AS STRING)) AS pad"),
      s"$root/fact")
    TableLog.commitAppend(
      spark.range(0, 50000).selectExpr(
        "id AS k", "md5(CAST(id + 7 AS STRING)) AS name"),
      s"$root/dim")
    org.apache.spark.sql.graftx.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graftsbr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsbr.root", root)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    try {
      val q =
        """SELECT f.k, f.u, d.name FROM graftsbr.fact f
          |JOIN graftsbr.dim d ON f.k = d.k WHERE f.u = 123""".stripMargin

      // baseline (rule off): both sides exceed the threshold, filters do
      // not shrink size-only estimates → shuffle join
      spark.conf.set("spark.graft.statsBroadcast.enabled", "false")
      val off = spark.sql(q)
      val (b0, s0) = joins(off)
      assert(b0 == 0 && s0 == 1, s"baseline should shuffle: bhj=$b0 smj=$s0")
      val expected = off.collect().map(_.toString).sorted.toSeq

      // rule on but NO NDV sidecar: no evidence, still a shuffle join
      spark.conf.set("spark.graft.statsBroadcast.enabled", "true")
      val noNdv = spark.sql(q)
      assert(joins(noNdv) == ((0, 1)), "without NDV evidence the rule must not fire")

      // NDV recorded: est = bytes/50000 « threshold → broadcast the
      // filtered fact side
      TableLog.buildNdvIndex(spark, s"$root/fact", Seq("u"))
      val on = spark.sql(q)
      val (b1, s1) = joins(on)
      assert(b1 == 1 && s1 == 0,
        s"NDV evidence must flip to broadcast: bhj=$b1 smj=$s1\n${on.queryExecution.sparkPlan}")
      assert(on.collect().map(_.toString).sorted.toSeq == expected,
        "broadcast flip changed the answer")

      // a NON-selective predicate shape (range) contributes no selectivity:
      // estimate stays at table bytes → no flip
      val range = spark.sql(
        """SELECT f.k, d.name FROM graftsbr.fact f
          |JOIN graftsbr.dim d ON f.k = d.k WHERE f.u >= 0""".stripMargin)
      assert(joins(range) == ((0, 1)), "a range filter is not broadcast evidence")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.graft.statsBroadcast.enabled", "false")
    }
  }
}
