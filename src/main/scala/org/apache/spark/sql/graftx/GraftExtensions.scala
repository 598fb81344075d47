package org.apache.spark.sql.graftx

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point for the engine's Catalyst surface — the
  * (c) rung of the extension ladder (SURVEY.md §4): the native scalar
  * expression layer ([[CosineSimilarity]], reachable from SQL text, not
  * just the Column API), the [[RangeJoinRewrite]] optimizer rule
  * (nested-loop range joins → bucketed equi-joins, conf-gated), and the
  * [[AsOfJoinStrategy]] planner strategy (plans the [[AsOfJoin]] custom
  * logical node to its co-partitioned merge exec). Built-in operators
  * cover every other whole-operator semantic this engine needs.
  *
  * Wire-up options:
  *  - config: `spark.sql.extensions=org.apache.spark.sql.graftx.GraftExtensions`
  *    (works with spark-submit / connect, no code changes), or
  *  - builder: `SparkSession.builder().withExtensions(new GraftExtensions)`, or
  *  - post-hoc: [[GraftExtensions.register]] on a live session (tests, REPL —
  *    extension instances configured at build time don't apply to an
  *    already-created session returned by `getOrCreate`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimilarity)
    ext.injectFunction(GraftExtensions.rollingHash)
    ext.injectFunction(GraftExtensions.intDot)
    // conf-gated (spark.graft.rangeJoin.granularity), no-op until enabled
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // conf-gated (spark.graft.matview.paths): aggregates over catalog base
    // scans route to maintained rollup views (graft.sources.MatViewRewrite)
    ext.injectOptimizerRule(_ => graft.sources.MatViewRewrite)
    // conf-gated (spark.graft.statsBroadcast.enabled): filtered log-table
    // join sides whose NDV-informed estimate fits the broadcast threshold
    // get a BROADCAST hint Spark's size-only estimate would miss
    ext.injectOptimizerRule(_ => graft.sources.StatsBroadcastRewrite)
    // plans graftx.AsOfJoin logical nodes (see AsOf.join); inert otherwise
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** `cosine_similarity(array<float>, array<float>) -> double` */
  val cosineSimilarity: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("cosine_similarity"),
    new ExpressionInfo(
      classOf[CosineSimilarity].getCanonicalName, "cosine_similarity"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"cosine_similarity expects exactly 2 arguments, got ${args.length}")
      CosineSimilarity(args(0), args(1))
    })

  /** `rolling_hash(string) -> bigint` (the fingerprint fold) */
  val rollingHash: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHash].getCanonicalName, "rolling_hash"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        s"rolling_hash expects exactly 1 argument, got ${args.length}")
      RollingHash(args(0))
    })

  /** `int_dot(array<bigint>, array<bigint>) -> bigint` (quantized scoring) */
  val intDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("int_dot"),
    new ExpressionInfo(classOf[IntDotProduct].getCanonicalName, "int_dot"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"int_dot expects exactly 2 arguments, got ${args.length}")
      IntDotProduct(args(0), args(1))
    })

  /** Register into a LIVE session's function registry (same registration the
    * extension performs at session build), plus the optimizer rule via the
    * experimental-methods hook (extension instances configured at build time
    * don't apply to an already-created session). Idempotent: re-registering
    * replaces the function entries and skips an already-present rule.
    */
  def register(spark: SparkSession): Unit = {
    Seq(cosineSimilarity, rollingHash, intDot).foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val ex = spark.experimental
    Seq(RangeJoinRewrite, graft.sources.MatViewRewrite, graft.sources.StatsBroadcastRewrite)
      .foreach(rule => appendOnce(ex.extraOptimizations, rule)(ex.extraOptimizations = _))
    appendOnce(ex.extraStrategies, AsOfJoinStrategy)(ex.extraStrategies = _)
  }

  /** Append `hook` to a planner hook list unless it is already there — the
    * idempotent check-then-add every post-hoc registration goes through; an
    * append keeps the registration order.
    */
  private[graftx] def appendOnce[T](hooks: Seq[T], hook: T)(set: Seq[T] => Unit): Unit =
    if (!hooks.contains(hook)) set(hooks :+ hook)
}
