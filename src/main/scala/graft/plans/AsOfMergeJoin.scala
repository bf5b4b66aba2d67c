package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join (SURVEY.md §2.3 J2) as a first-class Catalyst
  * citizen: custom `LogicalPlan` node + planner `Strategy` + physical
  * `SparkPlan` — the (c)-level extension path, used because the operator's
  * ideal physical shape (ONE shuffle + sort per side, then a streaming
  * per-partition merge) can't be expressed by composing built-ins: the
  * union+window composition in [[graft.operators.AsOfJoin.backward]] costs
  * extra shuffles for the carry spine and materializes tagged rows.
  *
  * Semantics are identical to `backward` (pandas merge_asof: for each left
  * row the LATEST right row with rt <= lt in the same key group; all value
  * columns from that single row, nulls preserved; unmatched → null values,
  * or dropped when `inner`).
  *
  * Scale shape: requiredChildDistribution clusters both sides on the equi
  * keys (co-partitioned hash exchange — exactly a sort-merge join's cost);
  * requiredChildOrdering sorts each partition by (keys, time); doExecute
  * streams both sorted iterators with O(1) state (current right row + last
  * match) — no buffering of either side, no windows, no broadcast. The
  * keyless form degenerates to AllTuples (single partition) — prefer
  * [[graft.operators.AsOfJoin.backward]]'s bucketed composition there.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    valueExprs: Seq[Expression],
    valueAttrs: Seq[Attribute],
    inner: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ valueAttrs

  // Only genuinely-new exprIds count as produced: the SQL-rewrite path
  // reuses the right side's ids for transparency, and claiming THOSE as
  // produced would drop the right keys/time from `references`, letting
  // ColumnPruning prune the right child out from under the join.
  override def producedAttributes: AttributeSet =
    AttributeSet(valueAttrs) -- left.outputSet -- right.outputSet

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] to [[AsOfMergeJoinExec]]. Install via
  * [[AsOfStrategy.setup]] or `GraftExtensions` (injectPlannerStrategy).
  */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, ve, va, inner) =>
      AsOfMergeJoinExec(lk, rk, lt, rt, ve, va, inner,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }

  /** The one imperative installer of the as-of surface: this strategy
    * and the SQL rewrite rule ([[RewriteAsOfJoin]]), each added to
    * `session` at most once. Sessions built with `GraftExtensions` get
    * both injected declaratively instead.
    */
  def setup(session: SparkSession): Unit = {
    val x = session.experimental
    if (!x.extraOptimizations.contains(RewriteAsOfJoin))
      x.extraOptimizations = x.extraOptimizations :+ RewriteAsOfJoin
    if (!x.extraStrategies.contains(this))
      x.extraStrategies = x.extraStrategies :+ this
  }
}

/** Sort-merge backward as-of join. Both children arrive hash-clustered on
  * the equi keys and sorted by (keys, time); each partition is merged in
  * one forward pass.
  */
case class AsOfMergeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    valueExprs: Seq[Expression],
    valueAttrs: Seq[Attribute],
    inner: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ valueAttrs

  override def producedAttributes: AttributeSet =
    AttributeSet(valueAttrs) -- left.outputSet -- right.outputSet

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // rows are emitted in the left child's sorted order
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val lOut = left.output
    val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val ltProj = UnsafeProjection.create(Seq(leftTime), lOut)
      val rtProj = UnsafeProjection.create(Seq(rightTime), rOut)
      val valProj = UnsafeProjection.create(valueExprs, rOut)
      val outProj = UnsafeProjection.create(output, lOut ++ valueAttrs)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val joiner = new JoinedRow
      val nullVals = new GenericInternalRow(valueAttrs.length)

      var rRow: InternalRow = null
      var rKey: UnsafeRow = null
      def advanceRight(): Unit =
        if (rIter.hasNext) { rRow = rIter.next(); rKey = rKeyProj(rRow) }
        else { rRow = null; rKey = null }
      advanceRight()

      // last right row consumed with key == its stored key; O(1) state
      var matchKey: UnsafeRow = null
      var matchVals: UnsafeRow = null

      lIter.flatMap { lRow =>
        val lKey = lKeyProj(lRow)
        val ltRow = ltProj(lRow)
        val ltNull = ltRow.isNullAt(0)
        val lt = if (ltNull) 0L else ltRow.getLong(0)
        if (!ltNull) {
          var continue = true
          while (continue && rRow != null) {
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) advanceRight() // smaller key: consume, can't match
            else if (c > 0) continue = false
            else {
              val rtRow = rtProj(rRow)
              if (rtRow.isNullAt(0)) advanceRight() // null time never matches
              else if (rtRow.getLong(0) <= lt) {
                // candidate; later equal-key rows with rt <= lt overwrite
                // (ties: last in sort order wins, as in merge_asof)
                matchKey = rKey.copy()
                matchVals = valProj(rRow).copy()
                advanceRight()
              } else continue = false
            }
          }
        }
        val matched =
          !ltNull && matchKey != null && keyOrd.compare(matchKey, lKey) == 0
        if (matched) {
          numMatchedRows += 1
          numOutputRows += 1
          Iterator.single(outProj(joiner(lRow, matchVals)))
        } else if (inner) Iterator.empty
        else {
          numOutputRows += 1
          Iterator.single(outProj(joiner(lRow, nullVals)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}
