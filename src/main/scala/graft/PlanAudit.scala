package graft

import org.apache.spark.sql.DataFrame

/** Plan audit over registered queries — counts the plan features that
  * matter at 100 TB (pushed filters, broadcast joins, exchanges, codegen
  * spans, cartesian products) so a regression is visible without reading
  * plans. The extraction is a library function ([[features]]) so PlanSpec
  * pins flagship queries' exact numbers in CI; `graft.Main audit` emits the
  * full per-query dossier as machine-checkable JSON (sidecar + stdout lines).
  */
object PlanAudit {

  /** Executed-plan feature counts for one query result. EXECUTES the frame
    * (collect on this QueryExecution): under AQE the pre-execution plan is
    * `isFinalPlan=false` — zero codegen spans, provisional joins — and a
    * sink write would plan a FRESH QueryExecution, so collect-then-inspect
    * on the same QE is the only sequence that sees the real final plan.
    */
  def features(df: DataFrame): Map[String, Int] = {
    df.collect()
    // finalized AQE toString appends the pre-execution tree under
    // "== Initial Plan ==" — keep only the final plan or every count doubles
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    def c(p: String) = p.r.findAllIn(plan).length
    // codegen spans surface as `*(n) Node` prefixes (WholeStageCodegenExec
    // nodes don't print their own name); distinct ids = fused stages
    val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
    Map(
      "bcast_join" -> c("BroadcastHashJoin"),
      "smj" -> c("SortMergeJoin"),
      "shj" -> c("ShuffledHashJoin"),
      "cartesian" -> c("CartesianProduct"),
      "bcast_nl" -> c("BroadcastNestedLoopJoin"),
      "exchange" -> c("Exchange"),
      "codegen_spans" -> codegen,
      "pushed_scans" -> c("PushedFilters: \\[[^\\]]"))
  }

  /** Joins the FINAL plan executes THIS job: descends through AQE stage
    * wrappers but stops at cache boundaries (InMemoryTableScan). Needed for
    * per-round audits of iterative jobs — plan toString prints a cached
    * relation's build plan as a nested subtree, so string counting charges
    * every round with all previous rounds' joins.
    */
  def liveJoinCount(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    plan match {
      case a: AdaptiveSparkPlanExec    => liveJoinCount(a.executedPlan)
      case q: QueryStageExec           => liveJoinCount(q.plan)
      case _: InMemoryTableScanExec    => 0
      case j: BaseJoinExec             => 1 + j.children.map(liveJoinCount).sum
      case n                           => n.children.map(liveJoinCount).sum
    }
  }

  /** [[liveJoinCount]] of the plan that BUILT an already-cached frame: a
    * materialized round frame plans as a bare cache scan, so the audit must
    * first unwrap the top InMemoryRelation into its cachedPlan — and only
    * then stop at NESTED caches (the previous round, the edge relation).
    */
  def roundJoinCount(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def firstCache(p: SparkPlan): Option[InMemoryTableScanExec] = p match {
      case a: AdaptiveSparkPlanExec => firstCache(a.executedPlan)
      case q: QueryStageExec        => firstCache(q.plan)
      case s: InMemoryTableScanExec => Some(s)
      case n => n.children.view.flatMap(firstCache(_)).headOption
    }
    val top = df.queryExecution.executedPlan
    liveJoinCount(firstCache(top).map(_.relation.cachedPlan).getOrElse(top))
  }

  /** stable key order of [[features]] for the `audit` verb's lines and JSON */
  val Keys = Seq("bcast_join", "smj", "shj", "cartesian", "bcast_nl",
    "exchange", "codegen_spans", "pushed_scans")
}
