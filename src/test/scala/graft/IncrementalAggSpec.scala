package graft

import graft.operators.IncrementalAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the incremental-refresh contract: after overlapping appends the
  * derived table equals a from-scratch recompute, untouched partitions are
  * not rewritten, and an empty refresh is a no-op.
  */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private val root = "/tmp/graft_test_incragg"

  private def agg(b: DataFrame): DataFrame =
    b.groupBy("win", "k").agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("sum_v"))

  test("overlapping appends converge to the full recompute; untouched partitions untouched") {
    Scratch.wipe(root)
    val base = s"$root/base"
    val aggd = s"$root/agg"

    // window w1 rows split across BOTH batches — the straddle hazard
    val batch1 = Seq(("w0", "a", 1L), ("w0", "b", 2L), ("w1", "a", 3L))
      .toDF("win", "k", "v")
    val batch2 = Seq(("w1", "a", 10L), ("w1", "b", 20L), ("w2", "a", 30L))
      .toDF("win", "k", "v")

    val t1 = IncrementalAgg.appendAndRefresh(batch1, "win", base, aggd, agg)
    assert(t1.toSet == Set("w0", "w1"))
    val w0Files = new java.io.File(s"$aggd/win=w0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(w0Files.nonEmpty)

    val t2 = IncrementalAgg.appendAndRefresh(batch2, "win", base, aggd, agg)
    assert(t2.toSet == Set("w1", "w2"))

    // w0 partition not rewritten by the second refresh
    val w0After = new java.io.File(s"$aggd/win=w0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(w0After == w0Files, "untouched partition was rewritten")

    // derived table == from-scratch recompute over the full base
    val got = spark.read.parquet(aggd)
      .select("win", "k", "n", "sum_v").as[(String, String, Long, Long)]
      .collect().toSet
    val want = agg(batch1.union(batch2))
      .select("win", "k", "n", "sum_v").as[(String, String, Long, Long)]
      .collect().toSet
    assert(got == want)
    // the straddled window merged both halves
    assert(got.contains(("w1", "a", 2L, 13L)))

    // empty refresh: no-op
    IncrementalAgg.refreshWindows(spark, Seq.empty, "win", base, aggd, agg)
    assert(spark.read.parquet(aggd).count() == want.size)
  }
}
