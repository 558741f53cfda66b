package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Cast, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** Which right row an as-of join attaches to each left row of the same
  * key: the latest at or before the left time (`Backward`), the earliest
  * at or after it (`Forward`), or whichever of those two is closer
  * (`Nearest`, a |Δt| tie goes backward). */
sealed trait AsofDirection
object AsofDirection {
  case object Backward extends AsofDirection
  case object Forward extends AsofDirection
  case object Nearest extends AsofDirection
}

/** Logical as-of join (SURVEY §7.3 tier (c): custom LogicalPlan +
  * Strategy + SparkPlan), built only by [[graft.ts.AsofJoin]]. Children
  * are already-resolved plans; `leftBy`/`rightBy` are the per-side key
  * attributes, `leftTime`/`rightTime` the per-side event-time attributes
  * (numeric or timestamp, compared as `cast(time AS double)`),
  * `rightPayload` the right columns carried into the output (nullable).
  * `tolerance` bounds the matched |Δt| in those double units; `dirAttr`
  * is the nearest direction's `asof_dir` output column. */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftBy: Attribute,
    rightBy: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    rightPayload: Seq[Attribute],
    direction: AsofDirection,
    tolerance: Option[Double],
    dirAttr: Option[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true)) ++ dirAttr
  override def producedAttributes: AttributeSet = AttributeSet(dirAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical merge as-of join: both sides hash-clustered on the key and
  * sorted by (key, time) — the planner inserts the single exchange+sort
  * per side via requiredChildDistribution/Ordering — then one streaming
  * dual-pointer merge per partition with O(1) state (the trailing right
  * row per key). This is the reference's SortedAsofExecutor loop
  * (pyquokka/ts_executors.py:324-383) as a first-class Spark operator:
  * each side shuffles only its own columns, and the right side never
  * produces output rows at all. */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftBy: Attribute,
    rightBy: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    rightPayload: Seq[Attribute],
    direction: AsofDirection,
    tolerance: Option[Double],
    dirAttr: Option[Attribute]) extends BinaryExecNode {
  import AsofDirection._

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true)) ++ dirAttr
  override def producedAttributes: AttributeSet = AttributeSet(dirAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftBy)) :: ClusteredDistribution(Seq(rightBy)) :: Nil

  private def asDouble(t: Expression): Expression = Cast(t, DoubleType)

  // orderable payload attrs extend the right-side sort (round-10
  // tie-proofing): among time-tied right rows the backward loop keeps
  // the last (the MAX payload tuple) and the forward loop takes the
  // first (the MIN), deterministically — the same pick as the
  // streaming as-of's (ts, value) tie-break.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftBy, Ascending), SortOrder(asDouble(leftTime), Ascending)),
    Seq(SortOrder(rightBy, Ascending), SortOrder(asDouble(rightTime), Ascending)) ++
      rightPayload.filter(a => RowOrdering.isOrderable(a.dataType))
        .map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    def bound(plan: SparkPlan, a: Attribute) =
      BoundReference(plan.output.indexWhere(_.exprId == a.exprId), a.dataType, true)
    val lBy = bound(left, leftBy)
    val rBy = bound(right, rightBy)
    val lTime = asDouble(bound(left, leftTime))
    val rTime = asDouble(bound(right, rightTime))
    val payload = rightPayload.map(bound(right, _)).toArray
    val byType = leftBy.dataType
    val outTypes = output.map(_.dataType).toArray
    val dir = direction
    val tol = tolerance
    val withDir = dirAttr.isDefined

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(byType).asInstanceOf[Ordering[Any]]
      // null keys sort (and match) first, like the planned sort
      def keyCmp(a: Any, b: Any): Int =
        if (a == null || b == null) (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
        else keyOrd.compare(a, b)
      def cmp(a: Double, b: Double) = SQLOrderingUtil.compareDoubles(a, b)
      def within(dt: Double) = tol.forall(cmp(dt, _) <= 0)
      val project = UnsafeProjection.create(outTypes)
      val joined = new JoinedRow
      val rightRow = new GenericInternalRow(payload.length + (if (withDir) 1 else 0))
      val (bTag, fTag) = (UTF8String.fromString("b"), UTF8String.fromString("f"))

      new Iterator[InternalRow] {
        private val rBuf = rIt.buffered
        private var back: InternalRow = null // copy of the last right row at or before
        private var backT = 0.0

        override def hasNext: Boolean = lIt.hasNext
        override def next(): InternalRow = {
          val l = lIt.next()
          val lKey = lBy.eval(l)
          val lT = lTime.eval(l)
          // advance past other keys before ours, null-time right rows
          // (never a match), and right rows at or before the left time
          // (strictly before, forward): backward and nearest keep the
          // last one consumed. A null left time consumes nothing.
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val r = rBuf.head
            val c = keyCmp(rBy.eval(r), lKey)
            if (c < 0) rBuf.next()
            else if (c > 0) advancing = false
            else {
              val rT = rTime.eval(r)
              if (rT == null) rBuf.next()
              else if (lT == null) advancing = false
              else {
                val d = cmp(rT.asInstanceOf[Double], lT.asInstanceOf[Double])
                if (d < 0 || (d == 0 && dir != Forward)) {
                  if (dir != Forward) { back = r.copy(); backT = rT.asInstanceOf[Double] }
                  rBuf.next()
                } else advancing = false
              }
            }
          }
          // a null left time has no "as of" point: null payload, null dir
          var m: InternalRow = null
          var tag: UTF8String = null
          if (lT != null) {
            val t = lT.asInstanceOf[Double]
            val b = if (dir != Forward && back != null &&
                keyCmp(rBy.eval(back), lKey) == 0 && within(t - backT)) back else null
            var f: InternalRow = null
            var fT = 0.0
            if (dir != Backward && rBuf.hasNext && keyCmp(rBy.eval(rBuf.head), lKey) == 0) {
              fT = rTime.eval(rBuf.head).asInstanceOf[Double]
              if (within(fT - t)) f = rBuf.head
            }
            if (b != null && (f == null || cmp(t - backT, fT - t) <= 0)) { m = b; tag = bTag }
            else if (f != null) { m = f; tag = fTag }
          }
          var i = 0
          while (i < payload.length) {
            rightRow.update(i, if (m == null) null else payload(i).eval(m)); i += 1
          }
          if (withDir) rightRow.update(i, tag)
          project(joined(l, rightRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy lowering [[AsofJoinNode]] → [[AsofJoinExec]]. */
object AsofJoinStrategy extends SparkStrategy {
  /** Adds this strategy to `spark`'s planner (public
    * `experimental.extraStrategies`) unless it is already there. */
  def setup(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this))
      ex.extraStrategies = ex.extraStrategies :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lb, rb, lt, rt, payload, dir, tol, dirAttr) =>
      AsofJoinExec(planLater(l), planLater(r), lb, rb, lt, rt, payload, dir,
        tol, dirAttr) :: Nil
    case _ => Nil
  }
}
