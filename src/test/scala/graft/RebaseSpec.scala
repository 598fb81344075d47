package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Rebase
import org.apache.spark.storage.StorageLevel

/** Pins the [[Rebase]] contract the 8 gated iterative queries lean on
  * (r13 advice item 2): row equality, preserved outputPartitioning (no
  * re-shuffle in a downstream key-join), and replay after the origin
  * cache is unpersisted. Also pins the [[Memo]] lifecycle seam and the
  * [[Localize]] release.
  */
class RebaseSpec extends SparkSpec {

  private def hashPartitioned() = {
    import spark.implicits._
    (1L to 1000L).map(i => (i % 37, i)).toDF("k", "v")
      .repartition(col("k"))
  }

  test("rebase preserves rows exactly") {
    val base = hashPartitioned().cache()
    base.count()
    val rebased = Rebase(base)
    assert(rebased.schema == base.schema)
    assert(rebased.collect().map(_.toSeq).toSet == base.collect().map(_.toSeq).toSet)
    assert(rebased.count() == 1000L)
    base.unpersist(blocking = true)
  }

  test("rebase carries outputPartitioning: keyed aggregate adds no exchange") {
    val base = hashPartitioned().cache()
    base.count()
    val rebased = Rebase(base)
    val agg = rebased.groupBy("k").agg(sum("v").as("s"))
    agg.collect() // AQE-final plan (CLAUDE.md plan rules)
    val plan = agg.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange"),
      s"keyed aggregate over a rebased hash-partitioned frame re-shuffled:\n$finalPlan")
    base.unpersist(blocking = true)
  }

  test("rebase replays after the origin cache is unpersisted") {
    val base = hashPartitioned().cache()
    val expected = base.collect().map(_.toSeq).toSet // materializes the cache
    val rebased = Rebase(base)
    base.unpersist(blocking = true)
    assert(rebased.collect().map(_.toSeq).toSet == expected,
      "rebased handle lost rows once the origin cache was dropped")
  }

  test("memo releaseAll unpersists and forgets; next access rebuilds") {
    val map = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
    var builds = 0
    def get() = Memo.cached(map, "k") { _ =>
      builds += 1
      import spark.implicits._
      (1 to 10).toDF("x")
    }
    val a = get()
    assert(a.count() == 10 && builds == 1)
    assert(get() eq a, "second access must return the memoized instance")
    assert(a.storageLevel != StorageLevel.NONE)
    Memo.releaseAll()
    assert(a.storageLevel == StorageLevel.NONE,
      "releaseAll must unpersist the entry")
    assert(map.isEmpty, "releaseAll must clear the memo map")
    val b = get()
    assert(builds == 2 && b.count() == 10, "next access must rebuild + re-memoize")
  }

  test("memo releaseAll leaves no dedup cache pinned, the shingle index included") {
    // start with an empty registered memo map: a fresh map must still
    // register although it equals that one by content
    Memo.cached(new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame](),
      "k")(_ => spark.range(1).toDF())
    Memo.releaseAll()
    spark.catalog.clearCache()
    assert(llm.Dedup.jaccard(spark, sfDir).collect().nonEmpty)
    Memo.releaseAll()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup cache outlived Memo.releaseAll")
  }

  test("memo releaseAll leaves no indicator base pinned, closes and bars both") {
    Memo.releaseAll()
    spark.catalog.clearCache()
    assert(analytics.Indicators.obv(spark, sfDir).collect().nonEmpty) // daily closes
    assert(analytics.Indicators.atr(spark, sfDir).collect().nonEmpty) // daily bars
    Memo.releaseAll()
    assert(spark.sharedState.cacheManager.isEmpty,
      "an indicator base outlived Memo.releaseAll")
  }

  // every query that ends in Localize
  private val localizedQueries = Seq(
    "cv_kfold_ols", "token_budget_plan", "isotonic_calibration",
    "source_signature_terms", "text_prf_search", "retrieval_mrr_eval",
    "user_stickiness", "cohort_ltv", "window_funnel", "graph_influence",
    "a17_conformal", "mad_outliers", "winsorized_stats",
    "assoc_rules", "assoc_triples", "cf_item_recs", "ts_backtest", "ts_pinball",
    "cluster_grid_density", "recursive_sql_reach", "tree_depth2",
    "ts_matrix_profile", "graph_degree_profile", "kmv_set_ops",
    "graph_pagerank", "graph_ppr_recs", "graph_reach", "graph_harmonic",
    "graph_assortativity", "graph_triangles", "graph_sssp", "graph_lpa",
    "graph_link_prediction")

  test("memo releaseAll leaves no cache pinned after a localized query") {
    val pinning = localizedQueries.filterNot { name =>
      Memo.releaseAll()
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, sfDir).collect()
      Memo.releaseAll()
      spark.sharedState.cacheManager.isEmpty
    }
    assert(pinning.isEmpty,
      s"left a cache pinned after Memo.releaseAll: ${pinning.mkString(", ")}")
  }

  test("Localize returns the rows and releases; a failed collect still releases") {
    def pinned() = { val c = spark.range(10).toDF().cache(); c.count(); c }
    val kept = pinned()
    assert(kept.storageLevel != StorageLevel.NONE)
    assert(Localize(spark.range(3).toDF(), kept).collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(kept.storageLevel == StorageLevel.NONE, "Localize must release its caches")

    val failed = pinned()
    val e = intercept[Exception](
      Localize(spark.range(3).select(raise_error(lit("localize-collect-failed"))), failed))
    assert(e.getMessage.contains("localize-collect-failed"),
      s"the collect's own error must reach the caller, got: $e")
    assert(failed.storageLevel == StorageLevel.NONE,
      "a failed collect left its cache pinned")
  }
}
