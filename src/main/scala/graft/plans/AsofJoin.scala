package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Backward as-of join as a first-class Catalyst operator
  * (SURVEY.md §2.4 J4; the custom-operator tier (c) of the engine's
  * extension policy — used because the composed union+window form
  * ([[graft.operators.Joins.asofJoinBackward]]) needs a union of
  * null-padded schemas plus a full window pass, while the dedicated
  * operator is a single co-partitioned streaming merge).
  *
  * Semantics: for every left row, the latest right row with the same
  * key and `rightTime <= leftTime`; ties on time resolved by the
  * largest `rightOrd`. Unmatched left rows keep null right columns.
  *
  * Physical execution: children hash-clustered on the key and sorted
  * (key, time [, ord]) — `EnsureRequirements` injects the exchanges
  * and sorts — then a per-partition two-pointer merge that keeps ONE
  * buffered right row ("latest so far") per key: O(n+m) time, O(1)
  * state, no row buffered twice, spill-free regardless of key
  * cardinality. This is the shape that survives 100 TB: one shuffle
  * per side, sequential merge per partition.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightOrd: Expression)
    extends BinaryNode {

  // analysis-time type guards: the exec compares evaluated keys/times
  // with ONE interpreted ordering built from the LEFT type — an int-vs-
  // long mismatch would otherwise surface as a runtime
  // ClassCastException deep inside the merge (expressions here are
  // resolved attributes of already-analyzed children, so dataType is
  // safe to read at construction)
  require(leftKey.dataType == rightKey.dataType,
    s"as-of join key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of join time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to its exec. Injected by
  * [[graft.GraftExtensions]].
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, ro) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, ro) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightOrd: Expression)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightOrd, Ascending)))

  override def outputPartitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrdering = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrdering = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val numRightCols = right.output.size
    val boundLeftKey = BindReferences.bindReference(leftKey, left.output)
    val boundLeftTime = BindReferences.bindReference(leftTime, left.output)
    val boundRightKey = BindReferences.bindReference(rightKey, right.output)
    val boundRightTime = BindReferences.bindReference(rightTime, right.output)

    val allOutput = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // downstream operators expect UnsafeRow (executeCollect casts) —
      // project the JoinedRow through an UnsafeProjection like the
      // built-in join execs do
      val toUnsafe = UnsafeProjection.create(allOutput.map(_.dataType).toArray)
      val base = new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val nullRight = new GenericInternalRow(numRightCols)
        private var rHead: InternalRow = _ // next unconsumed right row
        private var rHeadKey: Any = _
        private var rHeadTime: Any = _
        private var matchRow: InternalRow = _ // latest right ≤ current left time
        private var matchKey: Any = _

        private def toNullJoined(l: InternalRow): InternalRow =
          joined(l, nullRight)

        // null right keys can never equi-match (SQL join semantics) —
        // skip them here so the merge below never feeds null into the
        // interpreted ordering (which would NPE)
        @annotation.tailrec
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = boundRightKey.eval(rHead)
            rHeadTime = boundRightTime.eval(rHead)
            if (rHeadKey == null || rHeadTime == null) advanceRight()
          } else rHead = null

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = boundLeftKey.eval(l)
          val lTime = boundLeftTime.eval(l)
          // null-key/time left rows are unmatched by definition — emit
          // with null right columns, consume nothing
          if (lKey == null || lTime == null)
            return toNullJoined(l)
          // drop the buffered match if the key moved on
          if (matchRow != null &&
            keyOrdering.asInstanceOf[Ordering[Any]].compare(matchKey, lKey) != 0)
            matchRow = null
          // consume right rows up to (key, time) — rows sorted by
          // (key, time, ord), so the last consumed one wins ties
          var continue = rHead != null
          while (continue) {
            val kc = keyOrdering.asInstanceOf[Ordering[Any]].compare(rHeadKey, lKey)
            if (kc < 0) {
              advanceRight() // right key behind: skip
              continue = rHead != null
            } else if (kc == 0 &&
              timeOrdering.asInstanceOf[Ordering[Any]].compare(rHeadTime, lTime) <= 0) {
              matchRow = rHead.copy()
              // the evaluated key may alias the row buffer that the
              // sorter reuses (UTF8String over spill pages) — copy it
              matchKey = rHeadKey match {
                case s: UTF8String => s.clone()
                case other         => other
              }
              advanceRight()
              continue = rHead != null
            } else {
              continue = false // right key ahead, or time beyond left
            }
          }
          if (matchRow != null) joined(l, matchRow) else joined(l, nullRight)
        }
      }
      base.map(toUnsafe)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
