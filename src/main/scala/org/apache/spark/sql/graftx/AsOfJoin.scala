package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** As-of join (backward by default, forward on request) as a FIRST-CLASS
  * physical operator — the (c) rung of
  * the extension ladder Spark's built-ins cannot reach: a custom logical
  * node ([[AsOfJoin]]), a planner strategy ([[AsOfJoinStrategy]], injected
  * via `SparkSessionExtensions.injectPlannerStrategy` or post-hoc through
  * `spark.experimental.extraStrategies`), and a co-partitioned streaming
  * merge exec ([[AsOfJoinExec]]).
  *
  * Semantics (left-outer, backward): each left row `(k, t)` picks up the
  * right row with the same key and the LARGEST right time `rt <= t`, or
  * nulls if none — exactly DuckDB's `ASOF LEFT JOIN ... ON l.k = r.k AND
  * l.t >= r.t`, which is what the oracle gate replays. Ties on `(k, rt)`
  * across right rows are NOT deterministic (last-in-sort-order wins), so
  * callers must hand in a right side unique per (key, time) — the query
  * pre-aggregates to guarantee it.
  *
  * Why an exec instead of the composition the engine already has (bucket
  * join + window): composition materializes candidate pairs (every right
  * row in the left row's bucket) before the window picks one — fan-out ×
  * the per-bucket right density. The exec holds exactly ONE candidate: both
  * inputs arrive hash-partitioned on key and sorted by (key, time) — the
  * SAME distribution/ordering contract SortMergeJoin uses, declared via
  * `requiredChildDistribution`/`requiredChildOrdering` so EnsureRequirements
  * plans the exchanges/sorts — and a single forward pass per partition
  * keeps a one-row "latest right seen for this key" state. O(n+m) time,
  * O(1) state beyond the sorts, at any scale.
  *
  * Reference anchor: the reference's analyses join trades to candle/book
  * state "as of" the trade time inside ClickHouse (SURVEY.md §2.5 A2);
  * this is the engine-native whole-operator form.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long] = None,
    forward: Boolean = false) extends BinaryNode {
  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs matching non-empty key lists")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]; everything else falls through. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tol, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long] = None,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** Same contract as a shuffled join: both sides clustered on the key.
    * EnsureRequirements co-partitions the children (and AQE coalesces the
    * two shuffles consistently, as it does for sort-merge joins).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (key, time) ascending on both sides — the merge invariant. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  /** Left rows pass through partition-intact, so downstream key-grouped
    * aggregates reuse the exchange (the per-user rollup in the gated query
    * plans with ZERO additional shuffles).
    */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** Event-time value as comparable micros/units; (isNull, value). */
  private def mkTimeGet(
      proj: UnsafeProjection, dt: DataType): InternalRow => (Boolean, Long) = dt match {
    case TimestampType | TimestampNTZType | LongType =>
      row => { val r = proj(row); if (r.isNullAt(0)) (true, 0L) else (false, r.getLong(0)) }
    case IntegerType | DateType =>
      row => { val r = proj(row); if (r.isNullAt(0)) (true, 0L) else (false, r.getInt(0).toLong) }
    case other =>
      throw new IllegalArgumentException(s"unsupported as-of time type: $other")
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val out = output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val lKeyProj = UnsafeProjection.create(lk, lOut)
        val rKeyProj = UnsafeProjection.create(rk, rOut)
        val lTimeGet = mkTimeGet(UnsafeProjection.create(Seq(lt), lOut), lt.dataType)
        val rTimeGet = mkTimeGet(UnsafeProjection.create(Seq(rt), rOut), rt.dataType)
        val resultProj = UnsafeProjection.create(out, out)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        val nullRight = new GenericInternalRow(rOut.length)
        val joined = new JoinedRow

        val hasTol = tolerance.isDefined
        val tolVal = tolerance.getOrElse(0L)
        val fwd = forward
        new Iterator[InternalRow] {
          // one-row held state: the latest right row (copied — child rows
          // are reused buffers) whose (key, time) is <= the current left's
          private var held: InternalRow = _
          private var heldKey: UnsafeRow = _
          private var heldTime = 0L
          // one-row lookahead on the right (NOT copied: consumed or copied
          // before the next projection call invalidates the buffers)
          private var rRow: InternalRow = _
          private var rKey: UnsafeRow = _
          private var rTimeNull = true
          private var rTimeVal = 0L
          advanceRight()

          private def advanceRight(): Unit = {
            if (rIter.hasNext) {
              rRow = rIter.next()
              rKey = rKeyProj(rRow)
              val (n, t) = rTimeGet(rRow)
              rTimeNull = n; rTimeVal = t
            } else { rRow = null; rKey = null }
          }

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val lRow = lIter.next()
            val lKeyRow = lKeyProj(lRow)
            val (ltNull, ltVal) = lTimeGet(lRow)
            var matched = false
            var fwdRow: InternalRow = null
            if (!lKeyRow.anyNull && !ltNull) {
              if (!fwd) {
                // BACKWARD: drain right rows at or before (lKey, lTime);
                // remember the last same-key one — right rows with a smaller
                // key can never match this or any later left row (left is
                // key-ascending)
                var continue = rRow != null
                while (continue) {
                  val c = keyOrd.compare(rKey, lKeyRow)
                  if (c < 0 || (c == 0 && (rTimeNull || rTimeVal <= ltVal))) {
                    if (c == 0 && !rTimeNull && !rKey.anyNull) {
                      held = rRow.copy()
                      heldKey = rKey.copy()
                      heldTime = rTimeVal
                    }
                    advanceRight()
                    continue = rRow != null
                  } else {
                    continue = false
                  }
                }
                // tolerance nullifies a TOO-STALE latest match; because the
                // held row is the closest at-or-before candidate, the
                // post-check is exactly "no right row within [t-tol, t]"
                matched = held != null && keyOrd.compare(heldKey, lKeyRow) == 0 &&
                  (!hasTol || ltVal - heldTime <= tolVal)
              } else {
                // FORWARD: drain rows that are dead for this AND every later
                // left row (smaller key, or same key strictly before lTime —
                // later lefts have times >= lTime); the right cursor then
                // sits ON the earliest at-or-after candidate, matched
                // WITHOUT consuming (it may serve the next left row too)
                var continue = rRow != null
                while (continue) {
                  val c = keyOrd.compare(rKey, lKeyRow)
                  if (c < 0 || (c == 0 && (rTimeNull || rTimeVal < ltVal))) {
                    advanceRight()
                    continue = rRow != null
                  } else {
                    continue = false
                  }
                }
                if (rRow != null && !rKey.anyNull &&
                    keyOrd.compare(rKey, lKeyRow) == 0 &&
                    (!hasTol || rTimeVal - ltVal <= tolVal)) {
                  matched = true
                  fwdRow = rRow
                }
              }
            }
            joined(lRow, if (!matched) nullRight else if (fwd) fwdRow else held)
            numOutputRows += 1
            resultProj(joined)
          }
        }
    }
  }
}

/** Column-API front door (lives in `sql.graftx` for the `private[sql]`
  * `Dataset.ofRows` bridge). Registers [[AsOfJoinStrategy]] on the live
  * session idempotently — the same post-hoc route
  * [[GraftExtensions.register]] uses for rules — then hands the analyzer a
  * resolved [[AsOfJoin]] node.
  */
object AsOf {
  import org.apache.spark.sql.classic

  /** Backward as-of left join: every `left` row + the latest `right` row
    * with equal key and `rightTime <= leftTime` (nulls when none). The
    * right side must be unique per (key, time) for deterministic output —
    * pre-aggregate it (ties pick the last in sort order otherwise).
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[Column],
      rightKeys: Seq[Column],
      leftTime: Column,
      rightTime: Column): DataFrame =
    join(left, right, leftKeys, rightKeys, leftTime, rightTime, None)

  /** As [[join]], with a max-staleness bound: a latest-at-or-before match
    * older than `tolerance` (in the time columns' units — MICROSECONDS for
    * timestamps) is nulled out, exactly "no right row within [t-tol, t]"
    * (the held row is the closest candidate, so the post-check is
    * equivalence, not approximation).
    *
    * `forward = true` flips the direction: each left row picks the EARLIEST
    * right row with `rightTime >= leftTime` (time-to-next-event semantics —
    * DuckDB's `ASOF ... ON l.t <= r.t`), tolerance bounding `rt - t`. Same
    * exec, same one-pass merge: the cursor parks ON the candidate instead
    * of holding a copy behind it.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[Column],
      rightKeys: Seq[Column],
      leftTime: Column,
      rightTime: Column,
      tolerance: Option[Long],
      forward: Boolean = false): DataFrame = {
    val cl = left.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val cr = right.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val spark = cl.sparkSession
    GraftExtensions.appendOnce(spark.experimental.extraStrategies, AsOfJoinStrategy)(
      spark.experimental.extraStrategies = _)
    val lPlan = cl.queryExecution.analyzed
    // Self-join hygiene: when both inputs derive from the same source the
    // analyzed plans SHARE attribute ids — the joined output would then carry
    // duplicate exprIds and every downstream bind resolves to the LEFT copy
    // (the right ts column silently reads the left's). Re-alias every right
    // column (fresh exprIds, same names) exactly as DeduplicateRelations
    // does for built-in joins.
    val rPlan0 = cr.queryExecution.analyzed
    val rPlan =
      if (rPlan0.outputSet.intersect(lPlan.outputSet).isEmpty) rPlan0
      else Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def res(p: LogicalPlan, c: Column): Expression =
      spark.expression(c) match {
      case u: UnresolvedAttribute =>
        p.output.find(a => spark.sessionState.conf.resolver(a.name, u.name))
          .getOrElse(throw new IllegalArgumentException(
            s"column ${u.name} not found in ${p.output.map(_.name).mkString(", ")}"))
      case e => e
    }
    classic.Dataset.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      leftKeys.map(res(lPlan, _)), rightKeys.map(res(rPlan, _)),
      res(lPlan, leftTime), res(rPlan, rightTime), tolerance, forward))
  }
}
