package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  def windowedAgg(
      df: DataFrame,
      timeCol: String,
      key: String,
      size: String,
      hop: String,
      watermarkDelay: String,
      aggs: Map[String, Column]): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(col(key), window(col(timeCol), size, hop))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, a) => a.as(n) }.toSeq: _*)
      .select(Seq(col(key), col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++
        aggs.keys.toSeq.map(col): _*)

  /** Session windows with gap timeout (reference SessionWindow,
    * windowtypes.py:78) via the built-in `session_window`. */
  def sessionAgg(
      df: DataFrame,
      timeCol: String,
      key: String,
      gap: String,
      watermarkDelay: String,
      aggs: Map[String, Column]): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(col(key), session_window(col(timeCol), gap))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, a) => a.as(n) }.toSeq: _*)
      .select(Seq(col(key), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end")) ++
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

  /** Per-key state for [[streamingAsof]]: buffered quotes/trades not yet
    * past the watermark. */
  case class AsofState(
      quotes: List[(Long, Double)],  // (epochMicros, value)
      trades: List[(Long, Double)])

  /** Epoch MICROS of a Timestamp — `getTime` alone is ms-truncated
    * (the nanos field carries the full fractional second), and fixture
    * event times are µs-precision: buffering ms would silently reorder
    * same-ms events and emit truncated times the oracle compare would
    * only pass under float tolerance. Ripeness/trim compare in MICROS
    * against `wm * 1000` (round-8 fix): Spark's late filter drops
    * exactly `eventTimeMicros <= wmMs * 1000`, so a future event always
    * has `t > wm * 1000` — an ms-truncated ripeness test (`t/1000 <= wm`)
    * wrongly ripens a trade with a sub-ms offset inside the watermark's
    * ms, while a same-ms quote with a larger sub-ms offset can still
    * legally arrive. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000L))
    t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** True streaming backward as-of join — beyond the reference, which
    * only processes *bounded* sorted streams (its sortedness contract is
    * the watermark, SURVEY §2.9): here both sides are unbounded and
    * unordered within the watermark delay.
    *
    * Union-tag the two sides, group by symbol, and run a
    * flatMapGroupsWithState machine per key: buffer both sides, and once
    * the event-time watermark passes a trade, emit it joined to the
    * latest quote at-or-before it. State is trimmed to quotes newer than
    * the single latest one at-or-before the watermark — exactly the
    * reference's streaming trim (SortedAsofExecutor,
    * ts_executors.py:359-376) driven by a real watermark instead of
    * sortedness.
    *
    * Typed shape (key, ts, value) — the generic-schema batch operator is
    * `graft.ts.AsofJoin`. Output: (key, ts, value, quote_ts, quote_value),
    * quote fields null when no quote precedes the trade. */
  def streamingAsof(
      trades: DataFrame,   // columns: key, ts (timestamp), value
      quotes: DataFrame,   // columns: key, ts (timestamp), value
      watermarkDelay: String): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    val tagged = trades.select(col("key").cast("string"), col("ts"),
        col("value").cast("double"), lit(1).as("side"))
      .unionByName(quotes.select(col("key").cast("string"), col("ts"),
        col("value").cast("double"), lit(0).as("side")))
      .withWatermark("ts", watermarkDelay)
      // keep the watermarked ts column itself through to the stateful op
      // (projecting it away would detach the watermark)
      .as[(String, java.sql.Timestamp, Double, Int)]

    tagged.groupByKey(_._1)
      .flatMapGroupsWithState[AsofState,
        (String, java.sql.Timestamp, Double, Option[java.sql.Timestamp], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) { (key, rows, state) =>
        // invoked with new rows OR on event-time timeout (watermark passed
        // a pending trade — without the timeout a quiet key would never
        // flush its ripe trades)
        val s0 = state.getOption.getOrElse(AsofState(Nil, Nil))
        var quotes = s0.quotes
        var trades = s0.trades
        rows.foreach { case (_, t, v, side) =>
          val us = micros(t)
          if (side == 0) quotes = (us, v) :: quotes else trades = (us, v) :: trades
        }
        val wm = state.getCurrentWatermarkMs()
        val wmUs = wm * 1000
        // (ts, value) order — among equal-ts quotes the MAX value wins
        // (lastOption below), a deterministic tie-break that is arrival-
        // order-independent and mirrored by the q104 oracle (round-10:
        // sorting by ts alone left the winner to buffer order)
        val qSorted = quotes.sortBy(q => (q._1, q._2))
        // ripe in MICROS: a trade is complete iff tus <= wm*1000 — any
        // not-yet-arrived quote is strictly later than wm*1000 (Spark
        // late-drops eventTimeMicros <= wm*1000), so no future quote can
        // precede a ripe trade. An ms-truncated test would wrongly ripen
        // a sub-ms-offset trade whose matching same-ms quote is still
        // legally in flight.
        val (ripe, pending) = trades.sortBy(_._1).partition(_._1 <= wmUs)
        val out = ripe.map { case (tus, tv) =>
          val m = qSorted.takeWhile(_._1 <= tus).lastOption
          (key, toTs(tus), tv, m.map(q => toTs(q._1)), m.map(_._2))
        }
        // trim (same µs predicate): the latest quote at-or-before the
        // watermark still serves future trades (every pending trade is
        // strictly after wm*1000, as is every future quote); older ones
        // never match again.
        val (past, future) = qSorted.partition(_._1 <= wmUs)
        state.update(AsofState(past.takeRight(1) ++ future, pending))
        // wake at tus/1000 + 1: the first ms whose watermark ripens a
        // sub-ms-pending trade (wake at tus/1000 would fire with
        // wm*1000 < tus and re-pend forever)
        pending.headOption.foreach { case (tus, _) =>
          state.setTimeoutTimestamp(math.max(tus / 1000 + 1, wm + 1))
        }
        out.iterator
      }
      .toDF("key", "ts", "value", "quote_ts", "quote_value")
  }

  /** True streaming FORWARD as-of: each left row (alpha signal) fills at
    * the earliest right row (tick) with tick.ts >= alpha.ts — the
    * streaming form of the reference backtester's unfilled-alpha carry
    * (apps/rottnest/backtester.py:62-64 prepends unexecuted alphas for
    * the next batch; here they are keyed state).
    *
    * Emission is watermark-correct: a fill (alpha t, candidate tick c) is
    * emitted only once the watermark passes c.ts (µs-exact: ripe iff
    * c.us <= wm*1000, since any future tick is strictly later) — before
    * that, a not-yet-arrived tick inside (t, c.ts) could still be the
    * true first match. State trim: only the candidate ticks still
    * reachable by pending/future alphas are kept (same µs predicate);
    * unfilled alphas persist indefinitely by default (reference
    * behavior: the backtester carries unexecuted alphas forward).
    *
    * `alphaTtlMs` (round-7 verdict item 5, default off = -1): at 100 TB a
    * dead symbol otherwise accumulates unfilled-alpha state with no
    * escape hatch. When set, an unfilled alpha older than
    * `watermark - alphaTtlMs` is evicted (it can then never emit — the
    * deployable trade-off a caller opts into knowingly). Output:
    * (key, ts, value, fill_ts, fill_value), append mode. */
  def streamingAsofForward(
      alphas: DataFrame,   // columns: key, ts (timestamp), value
      ticks: DataFrame,    // columns: key, ts (timestamp), value
      watermarkDelay: String,
      alphaTtlMs: Long = -1L): DataFrame = {
    val spark = alphas.sparkSession
    import spark.implicits._
    val tagged = alphas.select(col("key").cast("string"), col("ts"),
        col("value").cast("double"), lit(1).as("side"))
      .unionByName(ticks.select(col("key").cast("string"), col("ts"),
        col("value").cast("double"), lit(0).as("side")))
      .withWatermark("ts", watermarkDelay)
      .as[(String, java.sql.Timestamp, Double, Int)]

    tagged.groupByKey(_._1)
      .flatMapGroupsWithState[AsofState,
        (String, java.sql.Timestamp, Double, java.sql.Timestamp, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) { (key, rows, state) =>
        val s0 = state.getOption.getOrElse(AsofState(Nil, Nil))
        var tickBuf = s0.quotes
        var alphaBuf = s0.trades
        rows.foreach { case (_, t, v, side) =>
          val us = micros(t)
          if (side == 0) tickBuf = (us, v) :: tickBuf
          else alphaBuf = (us, v) :: alphaBuf
        }
        val wm = state.getCurrentWatermarkMs()
        val wmUs = wm * 1000
        // (ts, value) order — among equal-ts ticks the MIN value wins
        // (find below takes the first), deterministic and mirrored by
        // the q105 oracle (round-10 tie-proofing)
        val tSorted = tickBuf.sortBy(t => (t._1, t._2))
        // candidate = earliest tick at-or-after the alpha (µs-exact);
        // ripe in MICROS once the watermark has passed the candidate —
        // any not-yet-arrived tick is strictly later than wm*1000
        // (Spark late-drops eventTimeMicros <= wm*1000), so no future
        // tick can beat a ripe candidate
        val withCand = alphaBuf.sortBy(_._1).map { case (aus, av) =>
          ((aus, av), tSorted.find(_._1 >= aus))
        }
        val (ripe, pending) = withCand.partition {
          case (_, Some((cus, _))) => cus <= wmUs
          case _ => false
        }
        val out = ripe.map { case ((aus, av), Some((cus, cv))) =>
          (key, toTs(aus), av, toTs(cus), cv)
        }
        // optional TTL: evict unfilled alphas the watermark has left
        // more than alphaTtlMs behind (off by default — reference carry)
        val kept = if (alphaTtlMs < 0) pending
          else pending.filter { case ((aus, _), _) =>
            aus > wmUs - alphaTtlMs * 1000
          }
        state.update(AsofState(
          tSorted.filter(_._1 > wmUs), kept.map(_._1)))
        // wake at cus/1000 + 1: the first ms whose watermark ripens the
        // earliest sub-ms-pending candidate
        kept.flatMap(_._2.map(_._1)).minOption.foreach { cus =>
          state.setTimeoutTimestamp(math.max(cus / 1000 + 1, wm + 1))
        }
        out.iterator
      }
      .toDF("key", "ts", "value", "fill_ts", "fill_value")
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
    * (µs-exact, like [[streamingAsof]]: ripe iff us <= wm*1000 — every
    * not-yet-arrived event is strictly later, so the per-key
    * time-order scan the NFA needs is complete up to the watermark),
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
        val pending = rows.foldLeft(s0.pending) { case (p, (_, t, et, v)) =>
          CepEv(micros(t), et, v) :: p
        }
        val wm = state.getCurrentWatermarkMs()
        val wmUs = wm * 1000
        val (ripe, rest) = pending.sortBy(_.us).partition(_.us <= wmUs)
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
          wmUs / 1e6 <= s.head._2.tsd + maxSpanSeconds)
        if (rest.isEmpty && live.isEmpty) state.remove()
        else {
          state.update(CepState(rest, live.map(_.toList)))
          // wake when the earliest pending event ripens, or when the
          // earliest live state expires — whichever is sooner
          val spanUs = (maxSpanSeconds * 1e6).toLong
          val wake = (rest.map(_.us / 1000 + 1) ++
            live.map(s => (s.head._2.us + spanUs) / 1000 + 1)).minOption
          wake.foreach(w => state.setTimeoutTimestamp(math.max(w, wm + 1)))
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
