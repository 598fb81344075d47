package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Rebase
import org.apache.spark.storage.StorageLevel

/** Pins the [[Rebase]] contract the 8 gated iterative queries lean on
  * (r13 advice item 2): row equality, preserved outputPartitioning (no
  * re-shuffle in a downstream key-join), and replay after the origin
  * cache is unpersisted. Also pins the [[Memo]] lifecycle seam and the
  * [[Localize]] scope's release.
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
    val base = Memo.base()
    var builds = 0
    def get() = base("k") { _ =>
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
    assert(base.isEmpty, "releaseAll must clear the memo map")
    val b = get()
    assert(builds == 2 && b.count() == 10, "next access must rebuild + re-memoize")
  }

  test("memo releaseAll leaves no dedup cache pinned, the shingle index included") {
    // start with an empty registered memo base: a fresh base must still
    // register beside it
    Memo.base()("k")(_ => spark.range(1).toDF())
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

  test("memo releaseAll leaves no cache pinned after any registered query") {
    val pinning = SparkEntry.queries.keys.toSeq.sorted.filterNot { name =>
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
    def pinned(keep: Localize.Scope) = { val c = keep(spark.range(10).toDF()); c.count(); c }
    var kept: org.apache.spark.sql.DataFrame = null
    val rows = Localize { keep =>
      kept = pinned(keep)
      assert(kept.storageLevel != StorageLevel.NONE)
      spark.range(3).toDF()
    }
    assert(rows.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(kept.storageLevel == StorageLevel.NONE, "Localize must release its caches")

    var failed: org.apache.spark.sql.DataFrame = null
    val e = intercept[Exception](Localize { keep =>
      failed = pinned(keep)
      spark.range(3).select(raise_error(lit("localize-collect-failed")))
    })
    assert(e.getMessage.contains("localize-collect-failed"),
      s"the collect's own error must reach the caller, got: $e")
    assert(failed.storageLevel == StorageLevel.NONE,
      "a failed collect left its cache pinned")
  }

  test("a scope's round is observed and rebased, and drop releases it at once") {
    val seen = scala.collection.mutable.ArrayBuffer[Option[Int]]()
    var first, second: org.apache.spark.sql.DataFrame = null
    val rows = Localize.observing((t, _) => seen += t) {
      Localize { keep =>
        first = hashPartitioned()
        val h1 = keep.round(1, first)
        assert(first.storageLevel != StorageLevel.NONE, "a round must stay cached")
        second = h1.groupBy("k").agg(sum("v").as("v"))
        val h2 = keep.round(2, second)
        keep.drop(h1)
        assert(first.storageLevel == StorageLevel.NONE,
          "drop must release the dead round before the query ends")
        h2.agg(count(lit(1)).as("n"), sum("v").as("total"))
      }.collect().toSeq
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) == Seq((37L, 500500L)))
    assert(seen == Seq(Some(1), Some(2), None), s"observer saw $seen")
    assert(second.storageLevel == StorageLevel.NONE, "the scope must release the last round")
  }
}
