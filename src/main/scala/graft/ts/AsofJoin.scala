package graft.ts

import graft.api.OrderedStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Backward as-of join on two ordered streams, per `by` symbol — the
  * semantics of the reference's `join_asof` (orderedstream.py:114-191) /
  * `SortedAsofExecutor` (ts_executors.py:324-383): for each left (trade)
  * row, attach the latest right (quote) row with right.time <= left.time
  * and the same `by` key.
  *
  * Three formulations (SURVEY §2.4):
  *   - `unionTag` (default): union both sides with a side tag and take
  *     `last(right_col, ignoreNulls) OVER (PARTITION BY by ORDER BY time,
  *     side ROWS UNBOUNDED PRECEDING)` over one struct of each right
  *     row, so every payload value comes from the one matched right
  *     row. One shuffle on `by`, whole-stage codegen around the
  *     window, AQE-friendly — scales to arbitrary key counts and is
  *     skew-tolerant (a hot symbol is one sorted partition-stream,
  *     exactly the reference's layout). Right rows with a null time
  *     never match; a left row with a null time matches nothing.
  *   - `merge`: the physical [[graft.plans.AsofJoinExec]] sorted merge.
  *   - `coGrouped`: per-key merge of the two sorted iterators — mirrors
  *     the reference's streaming state machine; a test-only oracle.
  */
object AsofJoin {

  /** Union-tag formulation. Right columns (except `by`) appear in the
    * output, suffixed when they collide with a left column. Exact time
    * ties match (right sorts before left at equal time). `tolerance`
    * (in time-column units, seconds for timestamps) drops matches older
    * than `left.time - tolerance`. */
  def unionTag(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String = "_right",
      tolerance: Option[Long] = None): OrderedStream =
    unionTagImpl(left, right, by, suffix, tolerance, forward = false)

  /** Forward as-of: for each left row, the EARLIEST right row with
    * right.time >= left.time (polars `strategy="forward"` — what the
    * reference's backtester uses to fill alpha signals at the next trade
    * tick, apps/rottnest/backtester.py:59). Same one-shuffle union-tag
    * layout, with the window mirrored (the reversed running frame, see
    * `unionTagImpl`). `tolerance` drops matches later than
    * `left.time + tolerance`. */
  def unionTagForward(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String = "_right",
      tolerance: Option[Long] = None): OrderedStream =
    unionTagImpl(left, right, by, suffix, tolerance, forward = true)

  /** The union-tag layout shared by every direction:
    * (by, __t, __side, leftCols..., rightPayload...), each side null-padded
    * in the other's columns. Right rows with a null time can never match
    * and are dropped here. Returns the union, the left columns, the right
    * payload's output names (suffixed on collision with a left column)
    * and the orderable payload columns that extend the window ordering
    * as tie-breakers. */
  private def tagged(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String,
      lSide: Int): (org.apache.spark.sql.DataFrame, Seq[String], Seq[String],
        Seq[org.apache.spark.sql.Column]) = {
    val l = left.df
    val r = right.df
    val leftCols = l.columns.toSeq
    val rightPayload = r.columns.toSeq.filterNot(_ == by).map { c =>
      c -> (if (leftCols.contains(c)) c + suffix else c)
    }
    val lTagged = l
      .withColumn("__t", col(left.timeCol).cast(DoubleType))
      .withColumn("__side", lit(lSide))
      .select(Seq(col(by), col("__t"), col("__side")) ++
        leftCols.filterNot(_ == by).map(col) ++
        rightPayload.map { case (_, out) => lit(null).as(out) }: _*)
    val rTagged = r
      .filter(col(right.timeCol).isNotNull)
      .withColumn("__t", col(right.timeCol).cast(DoubleType))
      .withColumn("__side", lit(1 - lSide))
      .select(Seq(col(by), col("__t"), col("__side")) ++
        leftCols.filterNot(_ == by).map(name => lit(null).as(name)) ++
        rightPayload.map { case (in, out) => col(in).as(out) }: _*)
    val tieBreak = rightPayload.collect {
      case (in, out) if org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(r.schema(in).dataType) => col(out)
    }
    (lTagged.unionByName(rTagged), leftCols, rightPayload.map(_._2), tieBreak)
  }

  /** The matched right row as ONE value: a struct of its time (`__rt`)
    * and payload, null on left rows. Left rows carry null payloads, so
    * filling each payload column with its own `last(c, ignoreNulls)`
    * cannot tell a null IN the matched right row from padding: it skips
    * it and returns an older right row's value, tearing the row. Filling
    * the struct (non-null on every right row) keeps every value from the
    * one matched row. */
  private def matchedRow(outRight: Seq[String], rSide: Int) =
    when(col("__side") === rSide,
      struct((col("__t").as("__rt") +: outRight.map(col)): _*))

  private def unionTagImpl(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String,
      tolerance: Option[Long],
      forward: Boolean): OrderedStream = {
    // Side tags order ties so the same-time right row falls inside the
    // left row's window frame in either direction. Orderable payload
    // columns extend the window ordering (round-10 tie-proofing): among
    // right rows TIED on time, backward's last() now picks the MAX
    // payload tuple and forward's first() the MIN — a deterministic,
    // partition-order-independent winner that matches the streaming
    // as-ofs' (ts, value) tie-break and lets the oracles state the pick
    // instead of relying on fixture-time uniqueness.
    val lSide = if (forward) 0 else 1
    val rSide = 1 - lSide
    val (union, leftCols, outRight, tieBreak) =
      tagged(left, right, by, suffix, lSide)
    // BOTH directions run as a RUNNING frame ([unboundedPreceding,
    // current] + last non-null), forward via the fully REVERSED
    // ordering (r16 scale fix): the literal forward form — first() over
    // [current, unboundedFollowing] — plans Spark's UnboundedFollowing
    // frame, which re-evaluates the aggregate by scanning from each row
    // to the partition end: O(rows²) PER KEY. Invisible on the sf0.01
    // gate fixtures, it hung the 20M-tick backtest baseline (hours where
    // the backward direction takes seconds) and would be fatal at
    // 100 TB. Reversing every sort key (desc mirrors asc exactly,
    // incl. nulls: asc-nulls-first ↔ desc-nulls-last) makes last() over
    // the running frame pick the identical row — the minimal
    // (__t, __side, payload) right row at-or-after — with incremental
    // O(rows) frame maintenance. Tie semantics are unchanged: at equal
    // time the right row (side 1) sorts before the left (side 0) in
    // DESC order, so equal-time matches stay inclusive, and among
    // tied right rows last() in DESC payload order picks the MIN
    // payload tuple, exactly what first() in ASC order picked.
    val ascKeys = Seq(col("__t"), col("__side")) ++ tieBreak
    val orderKeys = if (forward) ascKeys.map(_.desc) else ascKeys
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(by))
      .orderBy(orderKeys: _*)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val filled = union.withColumn("__m",
      last(matchedRow(outRight, rSide), ignoreNulls = true).over(w))

    // a left row with a null time matches nothing (the backward frame
    // already holds no right row for it; the reversed forward frame
    // would hold them all)
    val ok = col("__t").isNotNull && tolerance.fold(lit(true))(tol =>
      (if (forward) col("__m.__rt") - col("__t")
       else col("__t") - col("__m.__rt")) <= tol.toDouble)
    val matched = filled.filter(col("__side") === lSide)
    new OrderedStream(matched.select(leftCols.map(col) ++
      outRight.map(c => when(ok, col("__m").getField(c)).as(c)): _*),
      left.timeCol)
  }

  /** NEAREST as-of (pandas `merge_asof(direction="nearest")`,
    * completing the backward/forward family): each left row takes the
    * right row with the smallest |Δt|, ties to the BACKWARD side.
    * `tolerance` bounds |Δt| (units of the time column).
    *
    * One union-tag pass: both directions' fills are windows over the
    * SAME (by)-partitioned (time, side, payload) order, so Spark plans
    * ONE exchange + sort with two Window operators — nearest costs the
    * same shuffle as one directional as-of. Side ordering puts right
    * before left at equal times, which the backward frame includes;
    * the forward frame misses equal-time rows, harmlessly — backward's
    * Δt = 0 always wins the nearest choice. Equal-time right ties
    * resolve like the directional operators: backward MAX payload
    * (what wins at Δt ties too), forward MIN.
    *
    * Output: leftCols, right payload (suffixed on collision), and
    * `asof_dir` ∈ {"b", "f", null}; a left row with a null time gets
    * null payload and a null `asof_dir`. */
  def unionTagNearest(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String = "_right",
      tolerance: Option[Long] = None): OrderedStream = {
    val (union, leftCols, outRight, tieBreak) =
      tagged(left, right, by, suffix, lSide = 1)
    // forward fill via the REVERSED running frame, not first() over
    // [current, unboundedFollowing] — Spark's UnboundedFollowing frame
    // is O(rows²) per key (see unionTagImpl, r16 scale fix). Same
    // (by)-hash exchange for both windows (one shuffle, reused); the
    // reversed window adds one in-partition sort — linear, vs the
    // quadratic frame it replaces. Equal-time and tie semantics are
    // the exact mirror (asc-nulls-first ↔ desc-nulls-last): the
    // forward frame still misses equal-time rows (harmlessly —
    // backward's Δt = 0 wins nearest anyway) and tied right rows still
    // resolve to the MIN payload tuple.
    val ascKeys = Seq(col("__t"), col("__side")) ++ tieBreak
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(by)).orderBy(ascKeys: _*)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col(by)).orderBy(ascKeys.map(_.desc): _*)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val both = union
      .withColumns(Map(
        "__b" -> last(matchedRow(outRight, 0), ignoreNulls = true).over(wB),
        "__f" -> last(matchedRow(outRight, 0), ignoreNulls = true).over(wF)))
      .filter(col("__side") === 1)
    // per-direction tolerance, then the nearest choice (tie → backward);
    // a null left time has no direction
    val bOk = col("__b").isNotNull &&
      tolerance.map(t => col("__t") - col("__b.__rt") <= t.toDouble)
        .getOrElse(lit(true))
    val fOk = col("__f").isNotNull &&
      tolerance.map(t => col("__f.__rt") - col("__t") <= t.toDouble)
        .getOrElse(lit(true))
    val dir = when(col("__t").isNull, lit(null))
      .when(bOk && fOk,
        when(col("__t") - col("__b.__rt") <= col("__f.__rt") - col("__t"),
          "b").otherwise("f"))
      .when(bOk, "b").when(fOk, "f")
    val picked = both.withColumn("asof_dir", dir)
      .withColumns(outRight.map { c =>
        c -> when(col("asof_dir") === "b", col("__b").getField(c))
          .when(col("asof_dir") === "f", col("__f").getField(c))
      }.toMap)
    new OrderedStream(
      picked.select(leftCols.map(col) ++ outRight.map(col) :+
        col("asof_dir"): _*), left.timeCol)
  }

  /** Physical-operator formulation (SURVEY §7.3 tier (c)): plans a
    * [[graft.plans.AsofJoinExec]] — co-partitioned sorted merge with O(1)
    * state per partition, no unioned null-padded rows through the sort
    * (the unionTag formulation's overhead) and no per-key
    * materialization (the cogroup formulation's). One exchange + sort
    * per side, exactly like a sort-merge join.
    *
    * Measured tradeoff (narrow payload): this interpreted row merge is
    * the FASTER form, not the slower one. Round 18 recorded q49 (merge)
    * at 0.315 s against q41 (unionTag, same join) at 0.419 s at sf0.1 on
    * 32 cores, and 0.448 s against 0.704 s at sf1; on a 4-core VM at
    * sf0.1 the medians of 48 runs were 264 ms against 393 ms. The merge
    * also suits wide payloads and hot keys whose unioned row-run would
    * not fit a sort spill comfortably: each side shuffles only its own
    * columns and the right side never enters the output sort. unionTag
    * remains the default because only it has the tolerance, forward and
    * nearest variants. */
  def merge(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String = "_right"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.GraftPlanBridge
    import graft.plans.{AsofJoinNode, AsofJoinStrategy}
    val spark = left.df.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    val leftCols = left.df.columns.toSeq
    // fresh exprIds on the right (self-join safety: left and right may
    // derive from the same scan) + suffix on colliding payload names
    val rightNames = right.df.columns.toSeq.map { c =>
      if (c != by && leftCols.contains(c)) c + suffix else c
    }
    val rPrep = right.df.select(right.df.columns.toSeq.zip(rightNames).map {
      case (old, nw) => col(old).as(nw)
    }: _*)
    val rTime = if (right.timeCol != by && leftCols.contains(right.timeCol))
      right.timeCol + suffix else right.timeCol
    val lPlan = left.df.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val payload = rPlan.output.filterNot(a => a.name == by)
    GraftPlanBridge.ofRows(spark, AsofJoinNode(
      lPlan, rPlan,
      attr(lPlan, by), attr(rPlan, by),
      attr(lPlan, left.timeCol), attr(rPlan, rTime),
      payload))
  }

  /** Cogroup formulation: hash-partition both sides by key, merge the two
    * time-sorted iterators per key with O(1) state — the reference's
    * executor loop, minus its watermark bookkeeping (Spark's sort gives us
    * whole-key iterators). Returns rows as (left fields ++ right payload
    * fields). Used by tests to cross-check `unionTag`.
    *
    * NOT the production path — TEST-ONLY cross-check. It materializes
    * both sides of a key (`toArray.sortBy` below), so one hot key OOMs at
    * scale where the default [[unionTag]] formulation (single tagged
    * sort, streaming scan, no per-key buffering) does not. Use `unionTag`
    * (the `asof`/`asofJoin` default) or the physical `AsofJoinExec`;
    * this form is deliberately kept simple as an independent oracle. */
  def coGrouped(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String = "_right"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val lt = left.timeCol
    val rt = right.timeCol
    val l = left.df.withColumn("__t", col(lt).cast(DoubleType))
    val r = right.df.withColumn("__t", col(rt).cast(DoubleType))
    val leftCols = left.df.columns.toSeq
    val rightPayload = right.df.columns.toSeq.filterNot(_ == by).map { c =>
      c -> (if (leftCols.contains(c)) c + suffix else c)
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      left.df.schema.fields ++ rightPayload.map { case (in, out) =>
        right.df.schema(in).copy(name = out, nullable = true)
      })
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val strEnc: Encoder[String] = Encoders.STRING
    val lIdxT = l.columns.indexOf("__t")
    val rIdxT = r.columns.indexOf("__t")
    val lKeep = leftCols.map(c => l.columns.indexOf(c))
    val rKeep = rightPayload.map { case (in, _) => r.columns.indexOf(in) }
    val keyIdxL = l.columns.indexOf(by)
    val keyIdxR = r.columns.indexOf(by)
    l.groupByKey((row: Row) => String.valueOf(row.get(keyIdxL)))
      .cogroup(r.groupByKey((row: Row) => String.valueOf(row.get(keyIdxR)))) {
        (_: String, lit0: Iterator[Row], rit0: Iterator[Row]) =>
          val lSorted = lit0.toArray.sortBy(_.getDouble(lIdxT))
          val rSorted = rit0.toArray.sortBy(_.getDouble(rIdxT))
          var j = 0
          var lastQuote: Row = null
          lSorted.iterator.map { lrow =>
            val t = lrow.getDouble(lIdxT)
            while (j < rSorted.length && rSorted(j).getDouble(rIdxT) <= t) {
              lastQuote = rSorted(j); j += 1
            }
            val rvals =
              if (lastQuote == null) rKeep.map(_ => null)
              else rKeep.map(lastQuote.get)
            Row.fromSeq(lKeep.map(lrow.get) ++ rvals)
          }
      }
  }
}
