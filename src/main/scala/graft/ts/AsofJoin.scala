package graft.ts

import graft.api.OrderedStream
import graft.plans.{AsofDirection, AsofJoinNode, AsofJoinStrategy}
import org.apache.spark.sql.{AnalysisException, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{NumericType, StringType, TimestampType}

/** As-of join on two ordered streams, per `by` symbol — the semantics of
  * the reference's `join_asof` (orderedstream.py:114-191) /
  * `SortedAsofExecutor` (ts_executors.py:324-383), run as one sorted
  * merge per key by the physical [[graft.plans.AsofJoinExec]]: one
  * exchange + sort per side, exactly like a sort-merge join, with O(1)
  * state per partition.
  *
  * For each left row the join attaches one right row of the same key,
  * picked by `direction` ([[AsofDirection]]):
  *   - `Backward`: the latest right row with right.time <= left.time;
  *     among rows tied on time, the MAX orderable payload tuple;
  *   - `Forward`: the earliest with right.time >= left.time (polars
  *     `strategy="forward"`, the reference backtester's alpha fill,
  *     apps/rottnest/backtester.py:59); among ties, the MIN;
  *   - `Nearest` (pandas `direction="nearest"`): the backward pick or
  *     the earliest right row strictly after, whichever has the smaller
  *     |Δt|, a tie to backward; adds `asof_dir` ∈ {"b", "f", null}.
  *
  * Times compare as `cast(time AS double)`, so the two sides may mix
  * numeric and timestamp time columns. `tolerance` (in those units,
  * seconds for timestamps) bounds |Δt| in every direction. A null time
  * never matches; a left row with a null time gets null payload. The
  * output is the left columns, then the right columns except `by`,
  * suffixed when they collide with a left column. */
object AsofJoin {

  def apply(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      direction: AsofDirection = AsofDirection.Backward,
      suffix: String = "_right",
      tolerance: Option[Long] = None): OrderedStream = {
    val spark = left.df.sparkSession
    AsofJoinStrategy.setup(spark)
    val leftCols = left.df.columns.toSeq
    def out(c: String) = if (c != by && leftCols.contains(c)) c + suffix else c
    // fresh exprIds on the right (self-join safety: left and right may
    // derive from the same scan) + suffix on colliding payload names
    val lPlan = left.df.queryExecution.analyzed
    val rPlan = right.df.toDF(right.df.columns.toSeq.map(out): _*)
      .queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, shown: String) =
      p.output.find(_.name == n).getOrElse(throw new AnalysisException(
        "UNRESOLVED_COLUMN.WITH_SUGGESTION", Map("objectName" -> s"`$shown`",
        "proposal" -> p.output.map(a => s"`${a.name}`").mkString(", "))))
    val (lBy, rBy) = (attr(lPlan, by, by), attr(rPlan, by, by))
    val lT = attr(lPlan, left.timeCol, left.timeCol)
    val rT = attr(rPlan, out(right.timeCol), right.timeCol)
    val sqlExpr = s""""asof join on `$by`, `${lT.name}`, `${rT.name}`""""
    def quoted(a: Attribute) = "\"" + a.dataType.sql + "\""
    if (lBy.dataType != rBy.dataType)
      throw new AnalysisException("DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES",
        Map("sqlExpr" -> sqlExpr, "left" -> quoted(lBy), "right" -> quoted(rBy)))
    Seq("first" -> lT, "second" -> rT).foreach { case (i, t) =>
      t.dataType match {
        case _: NumericType | TimestampType => ()
        case _ => throw new AnalysisException(
          "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map("sqlExpr" -> sqlExpr,
            "paramIndex" -> i, "requiredType" -> "(\"NUMERIC\" or \"TIMESTAMP\")",
            "inputSql" -> s""""`${t.name}`"""", "inputType" -> quoted(t)))
      }
    }
    val dirAttr = Option.when(direction == AsofDirection.Nearest)(
      AttributeReference("asof_dir", StringType)())
    new OrderedStream(GraftPlanBridge.ofRows(spark, AsofJoinNode(lPlan, rPlan,
      lBy, rBy, lT, rT, rPlan.output.filterNot(_.name == by), direction,
      tolerance.map(_.toDouble), dirAttr)), left.timeCol)
  }
}
