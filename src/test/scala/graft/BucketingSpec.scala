package graft

import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Pins the co-located-join contract: two tables bucketed on the join key
  * join with ZERO exchanges — the storage-level shuffle avoidance a 100 TB
  * fact-×-fact join depends on.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("equi-join of co-bucketed tables plans with zero exchanges") {
    // pre-clean: stale catalog entries / external data from a previous run
    Seq("b_orders", "b_lineitem").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Scratch.wipe("/tmp/graft_test_bucketed")

    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lines = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(orders, "b_orders", "/tmp/graft_test_bucketed/orders",
      "o_orderkey", 4)
    Bucketing.writeBucketed(lines, "b_lineitem", "/tmp/graft_test_bucketed/lineitem",
      "l_orderkey", 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.readBucketed(spark, "b_orders")
        .join(Bucketing.readBucketed(spark, "b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      joined.write.mode("overwrite").format("noop").save()
      val plan = joined.queryExecution.executedPlan.toString
      // no exchange may be keyed on the JOIN key (bucket layout supplies the
      // partitioning); the only legitimate shuffle is the final o_custkey agg
      assert(!plan.contains("hashpartitioning(o_orderkey") &&
        !plan.contains("hashpartitioning(l_orderkey"),
        s"bucketed join must not shuffle on the join key:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      // and the numbers agree with the unbucketed plan
      val expected = orders.join(lines, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      assert(joined.exceptAll(expected).isEmpty && expected.exceptAll(joined).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // don't leave permanent catalog tables behind for later suites
      Seq("b_orders", "b_lineitem").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
