package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BaseOrdering, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** A native AS-OF (point-in-time) join operator — the whole-operator
  * Catalyst extension tier (logical node → Strategy → SparkPlan) for a
  * semantics Spark's built-ins only express via window + self-join
  * (cf. q16): for every left row, attach the LAST right row of the same
  * key whose time is ≤ the left time (left-outer; unmatched → nulls).
  *
  * Physical shape: both sides hash-shuffle on the key and sort by
  * (key, time) — declared via requiredChildDistribution/Ordering, so
  * EnsureRequirements plans the exchanges and AQE still applies — then a
  * single O(n+m) forward-merge per co-partition emits matches with NO
  * window materialization, NO join-back, and ONE pass over each side.
  * At 100 TB this halves the shuffles of the window formulation (one per
  * side vs window-shuffle + join-shuffle) and keeps state at one buffered
  * right row per partition, independent of per-key event counts.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  // the exec's merge compares left/right projections with ONE ordering built
  // from the LEFT types — a type mismatch would silently misread UnsafeRow
  // fields, so reject it at plan construction (sameType: nullability-blind,
  // the physical row layout is what must agree)
  require(leftKeys.length == rightKeys.length &&
    leftKeys.zip(rightKeys).forall { case (l, r) =>
      org.apache.spark.sql.types.DataType.equalsStructurally(
        l.dataType, r.dataType, ignoreNullability = true) },
    s"as-of join key types must match pairwise: " +
      s"${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(org.apache.spark.sql.types.DataType.equalsStructurally(
      leftTime.dataType, rightTime.dataType, ignoreNullability = true),
    s"as-of join time column types must match: " +
      s"${leftTime.dataType} vs ${rightTime.dataType}")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoinPlan → SortMergeAsOfJoinExec. Injected by
  * [[graft.functions.GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      SortMergeAsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class SortMergeAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on the key; EnsureRequirements inserts the
  // exchanges and checks hash-compatibility exactly as for SortMergeJoin
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // sort each partition by (key, time): the merge below is one forward scan
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SortMergeAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyTypes = leftKeys.map(_.dataType) :+ leftTime.dataType
    val rightSchema = right.output
    val nullRight = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      rightSchema.length)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // project (key..., time) of each side to comparable rows
      val lProj = UnsafeProjection.create(leftKeys :+ leftTime, left.output)
      val rProj = UnsafeProjection.create(rightKeys :+ rightTime, right.output)
      // natural ascending ordering over (key..., time); the keys-only
      // prefix comparison reuses it with the time column zeroed out
      val fullOrd: BaseOrdering =
        RowOrdering.createNaturalAscendingOrdering(lKeyTypes)
      val keyOrd: BaseOrdering =
        RowOrdering.createNaturalAscendingOrdering(lKeyTypes.dropRight(1))
      val outProj = UnsafeProjection.create(output, output)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var lastRight: InternalRow = _
        private var lastRightKey: InternalRow = _
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            val r = rIter.next()
            rHead = r.copy()
            rHeadKey = rProj(rHead).copy()
          } else { rHead = null; rHeadKey = null }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lProj(l)
          // consume every right row with (key, time) ≤ the left's; the
          // last consumed row of the SAME key is the as-of match
          while (rHead != null && fullOrd.compare(rHeadKey, lKey) <= 0) {
            lastRight = rHead
            lastRightKey = rHeadKey
            advanceRight()
          }
          val matched = lastRight != null &&
            keyOrd.compare(lastRightKey, lKey) == 0
          outProj(joined(l, if (matched) lastRight else nullRight))
        }
      }
    }
  }
}

/** Public entry point. */
object AsOf {
  /** Left-outer as-of join: for each `left` row, the last `right` row with
    * equal keys and `rightTime ≤ leftTime` (nulls when none precedes). */
  def join(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String): DataFrame = {
    // self-join safety: both sides often scan the same table and would
    // share attribute ids; re-aliasing the right side mints fresh ones
    // (the rewrite the analyzer does for built-in joins)
    import org.apache.spark.sql.functions.col
    val r = right.select(right.columns.map(n => col(n).as(n)).toSeq: _*)
    val plan = AsOfJoinPlan(
      left.queryExecution.analyzed,
      r.queryExecution.analyzed,
      leftKeys.map(k => GraftColumnBridge.expression(left.col(k))),
      rightKeys.map(k => GraftColumnBridge.expression(r.col(k))),
      GraftColumnBridge.expression(left.col(leftTime)),
      GraftColumnBridge.expression(r.col(rightTime)))
    GraftColumnBridge.ofRows(spark, plan)
  }
}
