package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A [[DataStream]] carrying a sortedness contract on `timeCol`
  * (reference OrderedStream, pyquokka/orderedstream.py:3;
  * datastream.py:56-63).
  *
  * Spark gives no cross-partition ordering, so ordered operators
  * re-establish order declaratively: per-key windows
  * (`Window.partitionBy(by).orderBy(time)`) or key-hash repartition +
  * `sortWithinPartitions` — the same layout the reference produces with
  * `HashPartitioner(by)` + strided sorted delivery (datastream.py:1697,
  * flight.py:152-206), but re-derived by Catalyst instead of trusted.
  */
class OrderedStream(df0: DataFrame, val timeCol: String) extends DataStream(df0) {

  /** lag/lead over the sorted stream, per `by` key — the reference's
    * `shift` (orderedstream.py:13-35; its ShiftOperator is referenced but
    * never defined — we implement the evident intent). n>0 looks back
    * (lag), n<0 looks ahead (lead). `tieBreak` columns extend the window
    * ordering (round-10): rows TIED on the time column otherwise shift
    * in partition-internal order, which is shuffle-read-dependent — pass
    * a unique column (an event id) to make the lag neighbor
    * deterministic on any fixture. */
  def shift(cols: Seq[String], n: Int, by: String, fill: Any = null,
      tieBreak: Seq[String] = Nil): OrderedStream = {
    val w = Window.partitionBy(col(by))
      .orderBy(col(timeCol) +: tieBreak.map(col): _*)
    val shifted = cols.map { c =>
      val s = if (n >= 0) lag(col(c), n, fill) else lead(col(c), -n, fill)
      c + "_shifted" -> s.over(w)
    }.toMap
    new OrderedStream(df.withColumns(shifted), timeCol)
  }

  /** As-of join per `by` symbol (reference `join_asof`,
    * orderedstream.py:114-191 + SortedAsofExecutor ts_executors.py:324-383):
    * [[graft.ts.AsofJoin]], the sorted-merge `AsofJoinExec`. `direction`
    * picks the latest right row at-or-before each left time (`Backward`),
    * the earliest at-or-after it (`Forward`, polars `strategy="forward"`,
    * used by the reference backtester, apps/rottnest/backtester.py:59) or
    * the closer of the two (`Nearest`). */
  def asofJoin(
      right: OrderedStream,
      by: String,
      suffix: String = "_right",
      tolerance: Option[Long] = None,
      direction: graft.plans.AsofDirection = graft.plans.AsofDirection.Backward)
      : OrderedStream =
    graft.ts.AsofJoin(this, right, by, direction, suffix, tolerance)

  /** Windowed aggregation (reference `windowed_transform`,
    * datastream.py:1650-1700) — spec × trigger per SURVEY §2.9. */
  def windowedTransform(
      window: graft.ts.WindowSpec,
      by: String,
      aggs: Map[String, Column],
      trigger: graft.ts.WindowTrigger = graft.ts.OnCompletionTrigger): OrderedStream =
    graft.ts.Windows.apply(this, window, by, aggs, trigger)

  /** Ordered stateful transform (reference OrderedStream
    * `stateful_transform`, orderedstream.py:55-112): key-partitioned,
    * time-ordered within partition. */
  def statefulTransformOrdered[T: org.apache.spark.sql.Encoder](by: String)(
      f: Iterator[org.apache.spark.sql.Row] => Iterator[T]): org.apache.spark.sql.Dataset[T] =
    statefulTransform(Seq(by), Seq(timeCol))(f)

  /** Complex-event pattern recognition (reference `pattern_recognize`,
    * orderedstream.py:37-53 + cep_executors.py) on the per-key NFA of
    * [[graft.ts.Cep.patternRecognize]]: SQL event predicates (`name.col`
    * for earlier events, bare names for the event's own columns), all
    * matches within `maxSpan`, output `by` then `<name>_<col>` per
    * event. */
  def patternRecognize(
      events: Seq[(String, String)],
      maxSpan: Long,
      by: String): DataFrame =
    graft.ts.Cep.patternRecognize(this, events, maxSpan.toDouble, by)
}
