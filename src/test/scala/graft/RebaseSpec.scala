package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Rebase

/** Pins the [[Rebase]] contract the 8 gated iterative queries lean on
  * (r13 advice item 2): row equality, preserved outputPartitioning (no
  * re-shuffle in a downstream key-join), and replay after the origin
  * cache is unpersisted. Also pins the [[Memo]] lifecycle seam.
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
    assert(a.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    Memo.releaseAll()
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
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
}
