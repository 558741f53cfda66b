package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.plans.AsofDirection

/** Structured Streaming variants of the windowed/stateful operators
  * (SURVEY §2.9 parity-plus — the reference only runs *bounded* streams,
  * with sortedness as its watermark, pyquokka/ts_executors.py; here the
  * same operator surface runs on true unbounded sources with event-time
  * watermarks).
  *
  * These functions transform a streaming DataFrame (from `readStream`)
  * into a streaming result; callers pick sink/trigger via `writeStream`.
  * At scale: state is keyed by (key, window) in the state store, watermark
  * bounds state size, and the aggregations are the same partial/final
  * hash-aggs as batch.
  */
object StreamingOps {

  /** Hopping (size, hop) or tumbling (size == hop) event-time window agg
    * with watermark — the OnCompletionTrigger analog: a window emits once
    * the watermark passes its end (append mode). */
  def windowedAgg(df: DataFrame, timeCol: String, key: String, size: String,
      hop: String, watermarkDelay: String, aggs: Map[String, Column]): DataFrame =
    keyedWindowAgg(df, timeCol, key, window(col(timeCol), size, hop),
      "window", "window", watermarkDelay, aggs)

  /** Session windows with gap timeout (reference SessionWindow,
    * windowtypes.py:78) via the built-in `session_window`. */
  def sessionAgg(df: DataFrame, timeCol: String, key: String, gap: String,
      watermarkDelay: String, aggs: Map[String, Column]): DataFrame =
    keyedWindowAgg(df, timeCol, key, session_window(col(timeCol), gap),
      "session_window", "session", watermarkDelay, aggs)

  /** Watermarked per-(key, window) aggregation: `win` is the window
    * expression Spark names `winName`, and its bounds come out as
    * `<prefix>_start` / `<prefix>_end`. */
  private def keyedWindowAgg(df: DataFrame, timeCol: String, key: String,
      win: Column, winName: String, prefix: String, watermarkDelay: String,
      aggs: Map[String, Column]): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(col(key), win)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, a) => a.as(n) }.toSeq: _*)
      .select(Seq(col(key), col(s"$winName.start").as(s"${prefix}_start"),
        col(s"$winName.end").as(s"${prefix}_end")) ++
        aggs.keys.toSeq.map(col): _*)

  /** Watermarked STREAM-STREAM interval join (parity-plus — the
    * reference joins a stream only against static state): left rows
    * match right rows of the same key whose event time lies in
    * [left.ts − lookbackSec, left.ts]. Inner join, append mode.
    *
    * Both sides carry watermarks and the join condition bounds both
    * event-time columns, so Spark derives state-eviction watermarks for
    * BOTH join buffers — state is O(key × lookback window), not
    * unbounded (the requirement for a stream-stream join to run at
    * 100 TB/day: without the time bound the right buffer grows
    * forever). The two event-time columns must be distinctly named
    * (they both survive into the output); key columns are deduplicated
    * to the left side's. */
  def streamStreamIntervalJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keys: Seq[String], lookbackSec: Long,
      watermarkDelay: String, joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "stream-stream join needs at least one key")
    require(leftTs != rightTs,
      s"event-time columns must be distinctly named, both are '$leftTs'")
    require(lookbackSec >= 0, s"lookbackSec must be >= 0, got $lookbackSec")
    // left_outer: an unmatched left row emits (right columns null) once
    // the watermark passes its ts — i.e. when no in-window right row
    // can still arrive. A BOUNDED run needs something to push the
    // watermark past the last real event or the tail's unmatched rows
    // stay buffered forever (the q105 sentinel discipline).
    require(joinType == "inner" || joinType == "left_outer",
      s"joinType must be inner|left_outer, got $joinType")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lookbackSec SECONDS") &&
      r(rightTs) <= l(leftTs)
    keys.foldLeft(l.join(r, cond, joinType))((df, k) => df.drop(r(k)))
  }

  /** STREAMING UPSERT into a merge-on-read table — the write-direction
    * twin of `Snapshots.readStream` (q202 reads commits as a stream;
    * this lands a stream as commits): each micro-batch becomes one
    * keyed upsert commit (per-batch latest-wins dedup on
    * (orderCol desc, then the remaining columns) keeps the upsert's
    * unique-key contract), so a live stream maintains a lakehouse
    * table whose resolved read is always key-consistent, and every
    * micro-batch is an auditable snapshot version.
    *
    * Returns the started query; stop it (or use AvailableNow) like any
    * sink. Exactly-once caveat: a retried micro-batch commits again —
    * upsert semantics make the replay idempotent at the KEY level
    * (same keys re-supersede), the version history just records the
    * retry. */
  def streamUpsertToMor(stream: DataFrame, dir: String, idCol: String,
      orderCol: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
          .orderBy(col(orderCol).desc +:
            batch.columns.filterNot(c => c == idCol || c == orderCol)
              .map(c => col(c).desc).toSeq: _*)
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        if (!latest.isEmpty) {
          graft.sources.MergeOnRead.upsert(latest, dir, idCol)
          ()
        }
      }
      .start()
  }

  /** Streaming exact dedup on key columns — the reference's incremental
    * DistinctExecutor (sql_executors.py:517-554) with bounded state:
    * watermark expires seen-keys. */
  def streamingDistinct(
      df: DataFrame, timeCol: String, watermarkDelay: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .dropDuplicates(keys :+ timeCol)

  /** Epoch MICROS of a Timestamp — `getTime` alone is ms-truncated
    * (the nanos field carries the full fractional second), and fixture
    * event times are µs-precision: buffering ms would silently reorder
    * same-ms events and emit truncated times the oracle compare would
    * only pass under float tolerance. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000L))
    t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** The event-time rule of the keyed machines below ([[streamingAsof]],
    * [[streamingCep]]), read off one invocation's `state`.
    *
    * Ripeness is µs-exact (round-8 fix): Spark's late filter drops
    * exactly `eventTimeMicros <= wmMs * 1000`, so an event is ripe iff
    * `us <= wmMs * 1000` — every not-yet-arrived event is strictly later,
    * and a key's ripe events are complete and can run in time order. An
    * ms-truncated test (`us / 1000 <= wmMs`) would ripen an event with a
    * sub-ms offset inside the watermark's ms while a same-ms event with a
    * larger offset can still legally arrive.
    *
    * The wake-up for an instant `us` is the first ms whose watermark
    * ripens it, `us / 1000 + 1` (waking at `us / 1000` would fire with
    * `wmMs * 1000 < us` and re-pend forever), and never at or before the
    * current watermark, which Spark rejects. */
  private final class EventClock(state: GroupState[_]) {
    val wmMs: Long = state.getCurrentWatermarkMs()
    val wmUs: Long = wmMs * 1000
    def ripe(us: Long): Boolean = us <= wmUs
    /** Wakes the key when the watermark ripens the earliest of `us`. */
    def wakeAt(us: Iterable[Long]): Unit = us.minOption.foreach(u =>
      state.setTimeoutTimestamp(math.max(u / 1000 + 1, wmMs + 1)))
  }

  /** One [[streamingAsof]] input row: µs event time, value, and side. */
  case class AsofRow(us: Long, value: Double, left: Boolean)

  /** [[streamingAsof]] keyed state: `pending` = arrived rows of either
    * side the watermark has not passed yet; `carry` = the ripe rows later
    * ripe rows still need — the last right row (backward) or the ripe
    * left rows no right row has filled yet (forward). */
  case class AsofState(pending: List[AsofRow], carry: List[AsofRow])

  /** True streaming as-of join — beyond the reference, which only
    * processes *bounded* sorted streams (its sortedness contract is the
    * watermark, SURVEY §2.9): here both sides are unbounded and
    * unordered within the watermark delay. `direction` is the batch
    * operator's ([[graft.ts.AsofJoin]]):
    *   - `Backward`: each left row joins the latest right row at or
    *     before it (among equal-time right rows, the max value) — the
    *     reference's SortedAsofExecutor (ts_executors.py:324-383).
    *     Output (key, ts, value, quote_ts, quote_value), quote fields
    *     null when no right row precedes the left row.
    *   - `Forward`: each left row (alpha signal) fills at the earliest
    *     right row (tick) at or after it (among equal-time right rows,
    *     the min value) — the streaming form of the reference
    *     backtester's unfilled-alpha carry (apps/rottnest/backtester.py:
    *     62-64). Output (key, ts, value, fill_ts, fill_value); a left row
    *     no right row fills never emits.
    *   - `Nearest` is not supported and fails here, before any query.
    *
    * Union-tag the two sides, group by key, and run one
    * flatMapGroupsWithState step per key: rows buffer until the
    * watermark passes them ([[EventClock]]), then run in time order —
    * at equal times ordered so that a right row at a left row's time
    * matches in either direction. Backward keeps only the last ripe
    * right row and emits every ripe left row against it at once (the
    * reference's watermark-trimmed state); forward holds ripe left rows
    * until the next ripe right row fills them. A quiet key flushes via
    * event-time timeout, and a key with no state left is removed.
    *
    * Unfilled forward left rows persist indefinitely by default
    * (reference behavior: the backtester carries unexecuted alphas
    * forward). `leftTtlMs` (default off = -1) evicts a held left row
    * the watermark has left more than `leftTtlMs` behind — at 100 TB a
    * dead symbol otherwise accumulates unfilled state with no escape
    * hatch, and an evicted row can never emit. A backward left row is
    * never held, so the TTL has nothing to evict there.
    *
    * Typed shape: both sides have columns key, ts (timestamp), value —
    * the generic-schema batch operator is [[graft.ts.AsofJoin]]. */
  def streamingAsof(
      left: DataFrame,
      right: DataFrame,
      watermarkDelay: String,
      direction: AsofDirection = AsofDirection.Backward,
      leftTtlMs: Long = -1L): DataFrame = {
    require(direction != AsofDirection.Nearest,
      "streamingAsof supports the Backward and Forward directions, not Nearest")
    val backward = direction == AsofDirection.Backward
    val spark = left.sparkSession
    import spark.implicits._
    def side(df: DataFrame, isLeft: Boolean) = df.select(col("key").cast("string"),
      col("ts"), col("value").cast("double"), lit(isLeft).as("left"))
    // time order; at equal times backward takes right rows first (the
    // last one of them, the max value, is the match) and forward left
    // rows first (the first right row, the min value, fills them)
    val order = Ordering.by((r: AsofRow) =>
      (r.us, if (backward) r.left else !r.left, r.value))
    val (tsCol, valueCol) =
      if (backward) ("quote_ts", "quote_value") else ("fill_ts", "fill_value")

    side(left, isLeft = true).unionByName(side(right, isLeft = false))
      .withWatermark("ts", watermarkDelay)
      // keep the watermarked ts column itself through to the stateful op
      // (projecting it away would detach the watermark)
      .as[(String, java.sql.Timestamp, Double, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState,
        (String, java.sql.Timestamp, Double, Option[java.sql.Timestamp], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) { (key, rows, state) =>
        val s0 = state.getOption.getOrElse(AsofState(Nil, Nil))
        val clock = new EventClock(state)
        val (ripe, pending) = rows.foldLeft(s0.pending) { case (p, (_, t, v, l)) =>
          AsofRow(micros(t), v, l) :: p
        }.partition(r => clock.ripe(r.us))
        val out = List.newBuilder[
          (String, java.sql.Timestamp, Double, Option[java.sql.Timestamp], Option[Double])]
        def emit(l: AsofRow, r: Option[AsofRow]): Unit =
          out += ((key, toTs(l.us), l.value, r.map(m => toTs(m.us)), r.map(_.value)))
        val carry = ripe.sorted(order).foldLeft(s0.carry) { (c, r) =>
          if (backward) { if (r.left) { emit(r, c.headOption); c } else List(r) }
          else if (r.left) r :: c
          else { c.reverseIterator.foreach(emit(_, Some(r))); Nil }
        }
        val kept = if (backward || leftTtlMs < 0) carry
          else carry.filter(_.us > clock.wmUs - leftTtlMs * 1000)
        if (pending.isEmpty && kept.isEmpty) state.remove()
        else {
          state.update(AsofState(pending, kept))
          clock.wakeAt(pending.map(_.us))
        }
        out.result().iterator
      }
      .toDF("key", "ts", "value", tsCol, valueCol)
  }

  /** Event as seen by [[streamingCep]] predicates: µs event time, type
    * tag, value. `tsd` is the event time in SECONDS as a double — the
    * same us/1e6 IEEE division DuckDB's `epoch()` and the batch NFA's
    * `cast(ts as double)` perform, so span comparisons written against
    * it are bit-identical to the batch operator and the SQL oracle. */
  case class CepEv(us: Long, etype: String, value: Double) {
    def tsd: Double = us / 1e6
  }

  /** [[streamingCep]] keyed state: `pending` = arrived events the
    * watermark has not passed yet; `live` = partial matches as
    * [[graft.ts.Cep.nfaStep]] keeps them, newest first, each the matched
    * (stage name, event) prefix in match order. */
  case class CepState(pending: List[CepEv], live: List[List[(String, CepEv)]])

  /** True streaming CEP — the watermarked form of
    * [[graft.ts.Cep.nfaPatternRecognize]] (reference `nfa_cep*`
    * executors, which consume bounded SORTED streams; here arrival
    * order is arbitrary within the watermark delay and a real
    * event-time watermark drives processing).
    *
    * Semantics are identical to the batch NFA (all-matches, strictly
    * increasing event times within a match, `maxSpan` from the first
    * event): events buffer per key until the watermark passes them
    * (µs-exact, [[EventClock]]: every not-yet-arrived event is strictly
    * later, so the per-key time-order scan the NFA needs is complete up
    * to the watermark),
    * then run in time order through [[graft.ts.Cep.nfaStep]], the
    * batch engine's transition function, with times in `tsd` seconds.
    * Emission is append-mode correct: a match emits exactly once, when
    * its completing event ripens.
    *
    * At scale: state per key is the unripe buffer (bounded by the
    * watermark delay × arrival rate) plus live partial matches (pruned
    * once the watermark passes head + maxSpan, and hard-capped by
    * `maxLiveStatesPerKey` — same dense-burst guard as batch). A quiet
    * key flushes via event-time timeout, and a key with no pending and
    * no live state removes itself from the store. `maxMatchesPerKey`
    * bounds one key's matches in ONE micro-batch: a combinatorial
    * blow-up shows inside one batch's ripe set, while a healthy hot key
    * matching steadily for weeks must not trip a lifetime counter.
    *
    * Input columns: key (string), ts (timestamp), etype (string),
    * value (double). Output: (key, <name>_t timestamp per stage). */
  def streamingCep(
      events: DataFrame,
      pattern: Seq[graft.ts.Cep.Event[CepEv]],
      maxSpanSeconds: Double,
      watermarkDelay: String,
      maxLiveStatesPerKey: Int = 10000,
      maxMatchesPerKey: Long = 1000000L): DataFrame = {
    require(pattern.nonEmpty, "streamingCep needs at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StructField, StructType, StringType, TimestampType}
    val outSchema = StructType(
      StructField("key", StringType, nullable = false) +:
        pattern.map(p => StructField(s"${p._1}_t", TimestampType)))
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    val stages = pattern.toIndexedSeq
    val tsd = (e: CepEv) => e.tsd

    events.select(col("key").cast("string"), col("ts"),
        col("etype").cast("string"), col("value").cast("double"))
      .withWatermark("ts", watermarkDelay)
      .as[(String, java.sql.Timestamp, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CepState, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) { (key, rows, state) =>
        val s0 = state.getOption.getOrElse(CepState(Nil, Nil))
        val clock = new EventClock(state)
        val (ripe, rest) = rows.foldLeft(s0.pending) { case (p, (_, t, et, v)) =>
          CepEv(micros(t), et, v) :: p
        }.sortBy(_.us).partition(e => clock.ripe(e.us))
        var matches = 0L
        val out = List.newBuilder[Row]
        def emit(matched: Vector[(String, CepEv)]): Unit = {
          matches += 1
          if (maxMatchesPerKey > 0 && matches > maxMatchesPerKey)
            throw new IllegalStateException(
              s"streaming CEP match blow-up: > $maxMatchesPerKey complete " +
              s"matches for key '$key' in one micro-batch (all-matches " +
              "semantics are combinatorial on dense bursts)")
          out += Row.fromSeq(key +: matched.map(e => toTs(e._2.us)))
        }
        val live = ripe.foldLeft(s0.live.map(_.toVector)) { (l, ev) =>
          graft.ts.Cep.nfaStep(stages, tsd, maxSpanSeconds,
            maxLiveStatesPerKey, s"for key '$key'")(l, ev, emit)
        }.filter(s =>
          // a live state whose head the watermark has left maxSpan
          // behind can never be extended (every future event is > wm)
          clock.wmUs / 1e6 <= s.head._2.tsd + maxSpanSeconds)
        if (rest.isEmpty && live.isEmpty) state.remove()
        else {
          state.update(CepState(rest, live.map(_.toList)))
          // wake when the earliest pending event ripens, or when the
          // earliest live state expires — whichever is sooner
          val spanUs = (maxSpanSeconds * 1e6).toLong
          clock.wakeAt(rest.map(_.us) ++ live.map(_.head._2.us + spanUs))
        }
        out.result().iterator
      }
  }

  /** Custom keyed state machine — the reference's `stateful_transform`
    * extension point in streaming form: running count + sum per key via
    * flatMapGroupsWithState. */
  def runningTotals(
      df: DataFrame, key: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(key).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (String, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update((n, s))
          Iterator((k, n, s))
      }
      .toDF(key, "n", "total")
  }
}
