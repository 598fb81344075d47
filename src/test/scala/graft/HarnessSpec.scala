package graft

import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** The shared run loop of Bench and the `perf` verb ([[Harness.timed]]),
  * and Bench's headline.
  */
class HarnessSpec extends SparkSpec {

  test("timed returns a positive duration for a registered query") {
    assert(Harness.timed(spark, "q3_topk_revenue", sfDir) > 0.0)
  }

  test("timed throws for a query whose result raises: a failure is never a time") {
    val failing = spark.range(10)
      .select(when(col("id") === 7, raise_error(lit("boom"))).otherwise(col("id")).as("x"))
    val e = intercept[Exception](Harness.timed(failing))
    assert(Harness.reason(e).contains("boom"), Harness.reason(e))
  }

  test("Bench's headline names only registered queries") {
    val unknown = Bench.Headline.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"headline names unregistered queries: ${unknown.mkString(", ")}")
  }
}
