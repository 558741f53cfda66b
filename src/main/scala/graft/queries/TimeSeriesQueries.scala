package graft.queries

import graft.api.{DataStream, OrderedStream}
import graft.functions.Det
import graft.ts._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordered-stream operator coverage (SURVEY §2.9): shift, as-of join,
  * windowed transforms (tumbling/hopping/sliding/session × triggers) and
  * CEP pattern recognition — all over the `events` stream fixture keyed
  * by user_id, ordered by ts. */
object TimeSeriesQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  private def ordered(s: SparkSession, d: String): OrderedStream =
    new OrderedStream(events(s, d), "ts")

  val queries: Map[String, Q] = Map(
    // shift / lag-lead (reference orderedstream.py:13-35).
    "q40_shift" -> { (s, d) =>
      // event_id tie-break: rows tied on ts shift deterministically
      ordered(s, d).shift(Seq("value"), 1, by = "user_id",
          tieBreak = Seq("event_id"))
        .select("event_id", "user_id", "ts", "value", "value_shifted")
        .sort(Seq("event_id")).df
    },

    // backward as-of join per symbol (reference orderedstream.py:114-191):
    // purchases pick up the latest prior view per user.
    "q41_asof_join" -> { (s, d) =>
      val ev = events(s, d)
      val trades = new OrderedStream(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"), "ts")
      val quotes = new OrderedStream(
        ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "value"), "ts")
      trades.asofJoin(quotes, by = "user_id", suffix = "_right")
        .sort(Seq("event_id")).df
    },

    // q41's as-of join under its own name: every as-of direction runs
    // the custom physical operator (graft.plans.AsofJoinExec — SURVEY
    // §7.3 tier (c)), so both names gate it with one oracle.
    "q49_asof_physical" -> { (s, d) =>
      val ev = events(s, d)
      val trades = new OrderedStream(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"), "ts")
      val quotes = new OrderedStream(
        ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "value"), "ts")
      trades.asofJoin(quotes, by = "user_id", suffix = "_right")
        .sort(Seq("event_id")).df
    },

    // as-of with tolerance: match only views within the last 6 hours.
    "q42_asof_tolerance" -> { (s, d) =>
      val ev = events(s, d)
      val trades = new OrderedStream(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"), "ts")
      val quotes = new OrderedStream(
        ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "value"), "ts")
      trades.asofJoin(quotes, by = "user_id", suffix = "_right",
          tolerance = Some(21600L))
        .sort(Seq("event_id")).df
    },

    // cohort retention (app-tier analytics shape): users grouped by
    // first-activity week, distinct-user counts per (cohort, weeks
    // since) — pure integer week arithmetic (µs div week-µs), so the
    // matrix is engine-exact. Shape: one distinct exchange on
    // (user, week), min-per-user on the same key, a user-keyed join,
    // one (cohort, age) aggregate — all narrow id/long columns.
    "q154_cohort_retention" -> { (s, d) =>
      val uw = events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
        .distinct()
      val cohort = uw.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(count(lit(1)).as("n_users")) // (user, wk) distinct already
        .orderBy("cohort_wk", "age_wk")
    },

    // conversion funnel view → click → purchase: per-user step entry
    // times (min-of-step strictly after the previous entry — tie-free
    // by construction) + depth reached. Entry times surface as epoch
    // µs so both engines state the same integers regardless of the
    // fixture's timestamp vintage.
    "q162_funnel" -> { (s, d) =>
      graft.ts.Funnel.funnel(events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .select(col("user_id"),
          expr("unix_micros(step_ts_1)").as("t1_us"),
          expr("unix_micros(step_ts_2)").as("t2_us"),
          expr("unix_micros(step_ts_3)").as("t3_us"),
          col("max_step"))
        .orderBy("user_id")
    },

    // NEAREST as-of (pandas direction="nearest"), completing the
    // backward/forward family: smallest |Δt| wins, ties to backward;
    // one AsofJoinExec merge holds both candidates, so nearest shuffles
    // exactly what backward does. Emits the picked direction for audit.
    "q205_asof_nearest" -> { (s, d) =>
      val ev = events(s, d)
      val trades = new OrderedStream(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"), "ts")
      val quotes = new OrderedStream(
        ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "value"), "ts")
      AsofJoin(trades, quotes, by = "user_id",
          direction = graft.plans.AsofDirection.Nearest, suffix = "_right")
        .sort(Seq("event_id")).df
    },

    // A/B experiment readout: salted-hash variant assignment, per-arm
    // user/conversion counts, and the pooled two-proportion z² as an
    // EXACT int64 rational — significance at the rational 5% χ²₁ cut
    // is a pure integer comparison.
    "q203_ab_test" -> { (s, d) =>
      graft.ts.EventStats.abTest(events(s, d), "user_id", "purchase",
        "event_type", seed = "r11")
    },

    // first-order Markov transition matrix of user behavior: adjacent
    // event-type pairs in (ts, event_id) order, row-normalized by the
    // from-type marginal.
    "q204_transition_matrix" -> { (s, d) =>
      graft.ts.EventStats.transitionMatrix(events(s, d), "user_id",
        "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },

    // integer-exact high-side 3σ anomaly detection on per-(user, hour)
    // event counts: the z-score test multiplied through by n² so the
    // flag set is pure int64 — identical on every engine.
    "q170_rate_anomaly" -> { (s, d) =>
      graft.ts.EventStats.anomalousHours(events(s, d), "user_id", "ts")
        .orderBy("user_id", "hr")
    },

    // session ASSIGNMENT (per-event complement of q46's session-window
    // aggregate): each event tagged with its user's running session
    // index, 30-min gap, (ts, event_id) total order so tied timestamps
    // can never flip a boundary.
    "q169_sessionize" -> { (s, d) =>
      graft.ts.Funnel.sessionize(events(s, d), "user_id", "ts",
          "event_id", gapSeconds = 1800L)
        .select(col("event_id"), col("user_id"), col("session_n"))
        .orderBy("event_id")
    },

    // interval-overlap join (public range join): per-event closed
    // interval [ts, ts + (id%7+1) min], self-overlap pairs per user
    // through the bucketed equi-join (5-min buckets) — no BNLJ, no
    // distinct pass (exactly-once bucket emit).
    "q164_interval_join" -> { (s, d) =>
      val iv = events(s, d).select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("s"),
        (expr("unix_micros(ts)") +
          (col("event_id") % 7 + 1) * 60000000L).as("e"))
      graft.ts.IntervalJoin.overlap(iv, iv, Seq("user_id"), "s", "e",
          bucketWidth = 300000000L)
        .filter(col("event_id") < col("event_id_r"))
        .select(col("user_id"), col("event_id").as("id_1"),
          col("event_id_r").as("id_2"))
        .orderBy("user_id", "id_1", "id_2")
    },

    // tumbling window, completion trigger (ts_executors.py:12-145).
    "q43_tumbling" -> { (s, d) =>
      ordered(s, d).windowedTransform(TumblingWindow(86400), by = "user_id",
          aggs = Map("n" -> count(lit(1)),
            "value_sum" -> Det.dsum(col("value"))))
        .sort(Seq("user_id", "window_start")).df
    },

    // hopping window, completion trigger (hop 12h, size 24h).
    "q44_hopping" -> { (s, d) =>
      ordered(s, d).windowedTransform(
          HoppingWindow(hop = 43200, size = 86400), by = "user_id",
          aggs = Map("n" -> count(lit(1)),
            "value_sum" -> Det.dsum(col("value"))))
        .sort(Seq("user_id", "window_start")).df
    },

    // sliding trailing window per event (ts_executors.py:147-194): 1h.
    "q45_sliding" -> { (s, d) =>
      new DataStream(ordered(s, d).windowedTransform(SlidingWindow(3600),
          by = "user_id",
          aggs = Map("roll_n" -> count(lit(1)),
            "roll_sum" -> Det.dsumWin(col("value")))).df
          .withColumn("roll_sum", Det.dwinFinish(col("roll_sum"))))
        .select("event_id", "user_id", "roll_n", "roll_sum")
        .sort(Seq("event_id")).df
    },

    // session window, completion trigger (ts_executors.py:197-288): 2h gap.
    "q46_session" -> { (s, d) =>
      ordered(s, d).windowedTransform(SessionWindow(7200), by = "user_id",
          aggs = Map("n" -> count(lit(1)),
            "value_sum" -> Det.dsum(col("value"))))
        .sort(Seq("user_id", "session_start")).df
    },

    // tumbling window, per-event running trigger (ts_executors.py:64-98).
    "q47_tumbling_event" -> { (s, d) =>
      new DataStream(ordered(s, d).windowedTransform(TumblingWindow(86400),
          by = "user_id",
          aggs = Map("run_n" -> count(lit(1)),
            "run_sum" -> Det.dsumWin(col("value"))),
          trigger = OnEventTrigger).df
          .withColumn("run_sum", Det.dwinFinish(col("run_sum"))))
        .select("event_id", "user_id", "window_start", "run_n", "run_sum")
        .sort(Seq("event_id")).df
    },

    // CEP pattern: view → later click with higher value → later purchase,
    // all within 1h per user (reference orderedstream.py:37-53).
    "q48_cep" -> { (s, d) =>
      val ev = new OrderedStream(
        events(s, d).select("user_id", "ts", "event_type", "value", "event_id"),
        "ts")
      new DataStream(ev.patternRecognize(Seq(
          "a" -> "a.event_type = 'view'",
          "b" -> "b.event_type = 'click' and b.value > a.value",
          "c" -> "c.event_type = 'purchase'"),
          maxSpan = 86400, by = "user_id"))
        .select("user_id", "a_event_id", "b_event_id", "c_event_id")
        .sort(Seq("user_id", "a_event_id", "b_event_id", "c_event_id")).df
    },

    // OHLCV candlestick aggregation (reference apps/rottnest/
    // candlestick.py:26-33: per (symbol, minute-candle) open/close/high/
    // low/volume). open/close are arg-min/max on (ts, value) — a single
    // groupBy, no window, which is the scale form (the reference's
    // polars head/tail-by-candle needs maintained order; arg-min/max
    // aggregates don't). The composite ordering key makes the pick
    // deterministic on ANY fixture (round-10 tie-proofing): among ticks
    // tied at the candle's first instant the MIN value opens, at the
    // last instant the MAX value closes — stated exactly by the
    // oracle's two-step form.
    "q39_ohlcv" -> { (s, d) =>
      events(s, d)
        .withColumn("candle", floor(col("ts").cast("double") / 60.0).cast("long"))
        .groupBy(col("user_id"), col("candle"))
        .agg(
          expr("min_by(value, struct(ts, value))").as("open"),
          expr("max_by(value, struct(ts, value))").as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n_ticks"))
        .orderBy(col("user_id"), col("candle"))
    },

    // regular-grid resample + LOCF gap fill (ts/Resample.scala): hourly
    // buckets over the sparse purchase stream — most grid rows are
    // fills, so the gate exercises the carry, not just the bucketing.
    // user_id < 8 bounds the output identically at every SF (the grid
    // is span/width per key, not corpus-sized).
    "q177_resample_locf" -> { (s, d) =>
      val ev = events(s, d)
        .filter(col("user_id") < 8 && col("event_type") === "purchase")
      Resample.locf(ev, "user_id", "ts", "value", widthSec = 3600L,
          tieBreak = Seq("event_id"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // linear-interpolation fill over the same grid: gap values are the
    // exact IEEE expression (v0·(b1−b) + v1·(b−b0))/(b1−b0) mirrored
    // verbatim in the oracle — both engines round identically at every
    // step, so the driver's exact hash holds on the computed doubles.
    "q178_resample_interp" -> { (s, d) =>
      val ev = events(s, d)
        .filter(col("user_id") < 8 && col("event_type") === "purchase")
      Resample.interp(ev, "user_id", "ts", "value", widthSec = 3600L,
          tieBreak = Seq("event_id"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // trailing-24h hourly active-user / event-volume rollup
    // (ts/Trailing.scala): exact distinct via bounded ×24 cover
    // expansion, zeros materialized. The oracle states the window
    // directly as a BETWEEN range join over the same (user, hour)
    // dedup.
    "q181_trailing_distinct" -> { (s, d) =>
      Trailing.trailingCounts(events(s, d), "ts", "user_id",
          widthSec = 3600L, nBuckets = 24)
        .orderBy(col("bucket"))
    },

    // per-key trailing EWMA over irregular hourly buckets (half-life =
    // one bucket, horizon 50): the decayed-activity feature of the
    // quant tier. Exact cross-engine BY CONSTRUCTION: horizon-truncated
    // sum is the semantics, 2^-k terms scale mantissas exactly, and
    // both engines fold in ascending-bucket order.
    "q220_ewma" -> { (s, d) =>
      graft.ts.Resample.ewma(events(s, d), "user_id", "ts", "value",
          widthSec = 3600L, horizon = 50)
        .orderBy("user_id", "bucket")
    },

    // q181's SCALE companion (round-11 verdict item 4): HLL-sketch
    // trailing distinct — the cover expansion carries per-bucket
    // sketches, never per-id rows, so the exchange is grid-sized at
    // any id cardinality. Gated q54-style: the oracle states the
    // engine-computed consistency flags as literal 1s (an HLL estimate
    // has no SQL mirror) plus ONE real value, the exact n_events, which
    // must ride the sketch path unchanged; ok_ids pins the estimate
    // within max(2, 10%) of the exact distinct count (HLL rsd ~1.6 %
    // at lgK 12 — deterministic, no RNG, so the flag cannot flake).
    "q214_trailing_approx" -> { (s, d) =>
      val ev = events(s, d)
      // r13 (verdict item 4): the exact leg runs at stride 6 — every
      // 6th bucket only — so the soak times the SKETCH path (whose
      // exchange is grid-sized) plus 1/6 of the exact verifier instead
      // of a full second exact run. n_events still verifies on EVERY
      // bucket (it rides the sketch path; the oracle restates it in
      // SQL); the HLL-vs-exact flags verify on the strided slice and
      // coalesce to their literal-1 oracle value elsewhere.
      // r14 (r13 advice): the stride lattice's OFFSET rotates with the
      // fixture path — deterministic per run (the driver compare needs
      // that) but different fixtures audit different bucket residues,
      // so no bucket class is permanently unverified. The flags are 1
      // on every bucket when the estimate holds, so the oracle is
      // offset-invariant.
      val exact = Trailing.trailingCounts(ev, "ts", "user_id",
          widthSec = 3600L, nBuckets = 24, stride = 6L,
          strideOffset = ((d.hashCode % 6) + 6) % 6)
        .select(col("bucket"), col("n_ids").as("__exact_ids"),
          col("n_events").as("__exact_ev"))
      Trailing.approxTrailingCounts(ev, "ts", "user_id",
          widthSec = 3600L, nBuckets = 24)
        .join(exact, Seq("bucket"), "left")
        .select(col("bucket"), col("n_events"),
          coalesce((col("n_events") === col("__exact_ev")).cast("long"),
            lit(1L)).as("ok_events"),
          coalesce((abs(col("n_ids") - col("__exact_ids")) <=
            greatest(lit(2L), (col("__exact_ids").cast("double") * 0.1)
              .cast("long"))).cast("long"), lit(1L)).as("ok_ids"))
        .orderBy(col("bucket"))
    },

    // two-sample Kolmogorov–Smirnov drift readout (r13): purchase-event
    // values vs everything else — the continuous-CDF companion of
    // q223's categorical χ². Exact integer rational (ks_num, ks_den) +
    // one IEEE division; significance squared into pure DECIMAL(38,0)
    // integer comparison.
    "q224_ks_drift" -> { (s, d) =>
      val ev = events(s, d)
      graft.agg.Eval.ksDrift(
        ev.filter(col("event_type") === "purchase").select(col("value")),
        ev.filter(col("event_type") =!= "purchase").select(col("value")),
        "value")
    },

    // per-group KS (r13): every event type's value CDF vs the rest in
    // ONE job — group-partitioned cumulative windows over the
    // (group × distinct value) grid, exact rationals per group.
    "q232_ks_by_group" -> { (s, d) =>
      graft.agg.Eval.ksDriftByGroup(
          events(s, d).select(col("event_type"), col("value")),
          "value", "event_type")
        .orderBy("event_type")
    },

    // quantize-first contract END-TO-END (r14): Eval.quantize — the
    // escape hatch the new distinct-value guard names in its error —
    // bounds value cardinality to 1000 equal-width buckets, then the
    // same exact KS rational runs on the bucket indices: the binned-KS
    // form a pipeline switches to when the raw column would trip the
    // guard (EvalSpec proves the guard raises; this gate proves the
    // quantized path stays driver-exact).
    "q235_quantized_ks" -> { (s, d) =>
      val ev = events(s, d).select(col("event_type"),
        graft.agg.Eval.quantize(col("value"), 0.0, 1000.0, 1000)
          .as("value"))
      graft.agg.Eval.ksDrift(
        ev.filter(col("event_type") === "purchase").select(col("value")),
        ev.filter(col("event_type") =!= "purchase").select(col("value")),
        "value")
    },

    // the RANK-quantized form (r14): equal-frequency buckets from
    // exact percentiles (OrderStat's distributed selection) — the
    // skew-proof quantizer for the same guard, fitted on the pooled
    // column then split into sides like q235.
    "q242_rank_quantized_ks" -> { (s, d) =>
      val ev = graft.agg.Eval.quantizeByRank(
        events(s, d).select(col("event_type"), col("value")),
        "value", buckets = 16, outCol = "vq")
      graft.agg.Eval.ksDrift(
        ev.filter(col("event_type") === "purchase").select(col("vq")),
        ev.filter(col("event_type") =!= "purchase").select(col("vq")),
        "vq")
    }
  )

  private val evCols = "SELECT user_id, ts, event_id, event_type, value FROM events"

  val oracles: Map[String, String] = Map(
    // two-step tie-insensitive open/close (round-10): min value among
    // ticks at the candle's min ts, max value at its max ts — exactly
    // the engine's struct(ts, value) arg-min/max picks
    "q39_ohlcv" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts) / 60.0) AS BIGINT) AS candle, ts, value
        |  FROM events),
        |b AS (SELECT user_id, candle, min(ts) AS ots, max(ts) AS cts,
        |    max(value) AS high, min(value) AS low, count(*) AS n_ticks
        |  FROM e GROUP BY user_id, candle),
        |o AS (SELECT e.user_id, e.candle, min(e.value) AS open
        |  FROM e JOIN b ON e.user_id = b.user_id AND e.candle = b.candle
        |    AND e.ts = b.ots
        |  GROUP BY e.user_id, e.candle),
        |c AS (SELECT e.user_id, e.candle, max(e.value) AS close
        |  FROM e JOIN b ON e.user_id = b.user_id AND e.candle = b.candle
        |    AND e.ts = b.cts
        |  GROUP BY e.user_id, e.candle)
        |SELECT b.user_id, b.candle, o.open, c.close, b.high, b.low,
        |  b.n_ticks
        |FROM b JOIN o ON b.user_id = o.user_id AND b.candle = o.candle
        |  JOIN c ON b.user_id = c.user_id AND b.candle = c.candle
        |ORDER BY b.user_id, b.candle""".stripMargin,
    "q40_shift" ->
      """SELECT event_id, user_id, ts, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS value_shifted
        |FROM events ORDER BY event_id""".stripMargin,
    // Tie-INSENSITIVE two-step form (round-10, mirrors q104's rewrite;
    // replaces ASOF JOIN, whose winner among equal-ts quotes is
    // engine-arbitrary): latest quote ts per trade instant, then the
    // MAX quote value at that ts — exactly the operators' payload-tuple
    // tie-break — joined back so duplicate trade rows keep multiplicity.
    "q41_asof_join" ->
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |     q AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'view'),
        |     tk AS (SELECT DISTINCT user_id, ts FROM t),
        |     m AS (SELECT tk.user_id, tk.ts, max(q.ts) AS qts
        |           FROM tk LEFT JOIN q ON tk.user_id = q.user_id
        |             AND q.ts <= tk.ts
        |           GROUP BY tk.user_id, tk.ts),
        |     mv AS (SELECT m.user_id, m.ts, m.qts, max(q.value) AS qv
        |            FROM m LEFT JOIN q ON m.user_id = q.user_id
        |              AND q.ts = m.qts
        |            GROUP BY m.user_id, m.ts, m.qts)
        |SELECT t.user_id, t.ts, t.event_id, t.value,
        |  mv.qts AS ts_right, mv.qv AS value_right
        |FROM t JOIN mv ON t.user_id = mv.user_id AND t.ts = mv.ts
        |ORDER BY t.event_id""".stripMargin,
    "q49_asof_physical" ->
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |     q AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'view'),
        |     tk AS (SELECT DISTINCT user_id, ts FROM t),
        |     m AS (SELECT tk.user_id, tk.ts, max(q.ts) AS qts
        |           FROM tk LEFT JOIN q ON tk.user_id = q.user_id
        |             AND q.ts <= tk.ts
        |           GROUP BY tk.user_id, tk.ts),
        |     mv AS (SELECT m.user_id, m.ts, m.qts, max(q.value) AS qv
        |            FROM m LEFT JOIN q ON m.user_id = q.user_id
        |              AND q.ts = m.qts
        |            GROUP BY m.user_id, m.ts, m.qts)
        |SELECT t.user_id, t.ts, t.event_id, t.value,
        |  mv.qts AS ts_right, mv.qv AS value_right
        |FROM t JOIN mv ON t.user_id = mv.user_id AND t.ts = mv.ts
        |ORDER BY t.event_id""".stripMargin,
    "q42_asof_tolerance" ->
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |     q AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'view'),
        |     tk AS (SELECT DISTINCT user_id, ts FROM t),
        |     m AS (SELECT tk.user_id, tk.ts, max(q.ts) AS qts
        |           FROM tk LEFT JOIN q ON tk.user_id = q.user_id
        |             AND q.ts <= tk.ts
        |           GROUP BY tk.user_id, tk.ts),
        |     mv AS (SELECT m.user_id, m.ts, m.qts, max(q.value) AS qv
        |            FROM m LEFT JOIN q ON m.user_id = q.user_id
        |              AND q.ts = m.qts
        |            GROUP BY m.user_id, m.ts, m.qts)
        |SELECT t.user_id, t.ts, t.event_id, t.value,
        |  CASE WHEN epoch(t.ts) - epoch(mv.qts) <= 21600
        |       THEN mv.qts END AS ts_right,
        |  CASE WHEN epoch(t.ts) - epoch(mv.qts) <= 21600
        |       THEN mv.qv END AS value_right
        |FROM t JOIN mv ON t.user_id = mv.user_id AND t.ts = mv.ts
        |ORDER BY t.event_id""".stripMargin,
    // µs div week-µs == floor(epoch-seconds / week-seconds) for
    // positive timestamps — both engines land on the same week index.
    "q154_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1)
        |SELECT c.cohort_wk, uw.wk - c.cohort_wk AS age_wk,
        |  count(*) AS n_users
        |FROM uw JOIN c USING (user_id) GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // backward = q41's (max ts / max value), forward its mirror
    // (min ts / min value, matching first() over the payload order);
    // the choice compares the same epoch-double distances, tie → 'b'.
    "q205_asof_nearest" ->
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |     q AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'view'),
        |     tk AS (SELECT DISTINCT user_id, ts FROM t),
        |     b AS (SELECT tk.user_id, tk.ts, max(q.ts) AS bts
        |           FROM tk LEFT JOIN q ON tk.user_id = q.user_id
        |             AND q.ts <= tk.ts GROUP BY 1, 2),
        |     bv AS (SELECT b.user_id, b.ts, b.bts, max(q.value) AS bval
        |            FROM b LEFT JOIN q ON b.user_id = q.user_id
        |              AND q.ts = b.bts GROUP BY 1, 2, 3),
        |     f AS (SELECT tk.user_id, tk.ts, min(q.ts) AS fts
        |           FROM tk LEFT JOIN q ON tk.user_id = q.user_id
        |             AND q.ts >= tk.ts GROUP BY 1, 2),
        |     fv AS (SELECT f.user_id, f.ts, f.fts, min(q.value) AS fval
        |            FROM f LEFT JOIN q ON f.user_id = q.user_id
        |              AND q.ts = f.fts GROUP BY 1, 2, 3),
        |     sel AS (SELECT bv.user_id, bv.ts, bts, bval, fts, fval,
        |       CASE WHEN bts IS NOT NULL AND fts IS NOT NULL THEN
        |              CASE WHEN epoch(bv.ts) - epoch(bts)
        |                     <= epoch(fts) - epoch(bv.ts)
        |                   THEN 'b' ELSE 'f' END
        |            WHEN bts IS NOT NULL THEN 'b'
        |            WHEN fts IS NOT NULL THEN 'f' END AS asof_dir
        |       FROM bv JOIN fv ON bv.user_id = fv.user_id
        |         AND bv.ts = fv.ts)
        |SELECT t.user_id, t.ts, t.event_id, t.value,
        |  CASE asof_dir WHEN 'b' THEN bts WHEN 'f' THEN fts END AS ts_right,
        |  CASE asof_dir WHEN 'b' THEN bval WHEN 'f' THEN fval END AS value_right,
        |  asof_dir
        |FROM t JOIN sel ON t.user_id = sel.user_id AND t.ts = sel.ts
        |ORDER BY t.event_id""".stripMargin,

    // same salted hash, same cross-multiplied z² rational.
    "q203_ab_test" -> {
      val v = graft.text.TextOps.portableHashSql(
        "(concat('ab:r11:', CAST(user_id AS VARCHAR)))") + " % 2"
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    VEXPR AS v
        |  FROM events GROUP BY user_id),
        |arms AS (SELECT v, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY v),
        |j AS (SELECT a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
        |  FROM arms a, arms b WHERE a.v = 0 AND b.v = 1),
        |z AS (SELECT *,
        |  CAST((c_a*n_b - c_b*n_a) * (c_a*n_b - c_b*n_a) * (n_a+n_b) AS DECIMAL(38,0)) AS z2_num,
        |  CAST(n_a*n_b * (c_a+c_b) * (n_a+n_b-c_a-c_b) AS DECIMAL(38,0)) AS z2_den
        |  FROM j)
        |SELECT n_a, c_a, n_b, c_b,
        |  c_a::DOUBLE / n_a::DOUBLE AS rate_a,
        |  c_b::DOUBLE / n_b::DOUBLE AS rate_b,
        |  CAST(z2_num AS DOUBLE) AS z2_num,
        |  CAST(z2_den AS DOUBLE) AS z2_den,
        |  CAST(CASE WHEN z2_den > 0 AND 1000 * z2_num >= 3841 * z2_den
        |    THEN 1 ELSE 0 END AS INT) AS significant
        |FROM z""".stripMargin.replace("VEXPR", v)
    },

    // identical lead window in the same (ts, event_id) order.
    "q204_transition_matrix" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, n, n_from,
        |  n::DOUBLE / n_from::DOUBLE AS p
        |FROM c JOIN m USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // same n²-cleared moment arithmetic; µs div hour-µs == floor
    // epoch-div on the positive domain (q154's proof).
    "q170_rate_anomaly" ->
      """WITH hc AS (SELECT user_id,
        |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |st AS (SELECT user_id, count(*) AS n_hours, sum(c) AS total,
        |    sum(c * c) AS q FROM hc GROUP BY 1)
        |SELECT hc.user_id, hc.hr, hc.c,
        |  CAST(st.n_hours AS BIGINT) AS n_hours,
        |  CAST(st.total AS BIGINT) AS total
        |FROM hc JOIN st USING (user_id)
        |WHERE st.n_hours * hc.c - st.total > 0
        |  AND (st.n_hours * hc.c - st.total) * (st.n_hours * hc.c - st.total)
        |      > 9 * (st.n_hours * st.q - st.total * st.total)
        |ORDER BY 1, 2""".stripMargin,

    // identical lag/cumsum window in the same (ts, event_id) order.
    "q169_sessionize" ->
      """WITH o AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT event_id, user_id, us,
        |    CASE WHEN us - lag(us) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM o)
        |SELECT event_id, user_id,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_n
        |FROM b ORDER BY event_id""".stripMargin,

    // plain inequality self-join states the same pair set the bucketed
    // equi-join must produce exactly once.
    "q164_interval_join" ->
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e FROM events)
        |SELECT a.user_id, a.event_id AS id_1, b.event_id AS id_2
        |FROM iv a JOIN iv b ON a.user_id = b.user_id
        |  AND a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e
        |ORDER BY 1, 2, 3""".stripMargin,

    // strict-after min-chaining mirrors Funnel.funnel exactly; nulls
    // are suffix-closed so depth = the CASE ladder.
    "q162_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT v.user_id, epoch_us(v.t1) AS t1_us, epoch_us(c.t2) AS t2_us,
        |  epoch_us(p.t3) AS t3_us,
        |  CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
        |            WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
        |    AS max_step
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q43_tumbling" ->
      s"""SELECT user_id,
        |  floor(epoch(ts) / 86400) * 86400 AS window_start,
        |  count(*) AS n, ${Det.dsumSql("value")} AS value_sum,
        |  floor(epoch(ts) / 86400) * 86400 + 86400 AS window_end
        |FROM events GROUP BY 1, 2 ORDER BY user_id, window_start""".stripMargin,
    "q44_hopping" ->
      s"""SELECT user_id, wstart AS window_start, count(*) AS n,
        |  ${Det.dsumSql("value")} AS value_sum, wstart + 86400 AS window_end
        |FROM (SELECT user_id, value,
        |        (floor(epoch(ts) / 43200) - j) * 43200 AS wstart, epoch(ts) AS e
        |      FROM events CROSS JOIN (VALUES (0), (1)) AS hops(j))
        |WHERE wstart > e - 86400 AND wstart <= e
        |GROUP BY user_id, wstart ORDER BY user_id, window_start""".stripMargin,
    "q45_sliding" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS roll_n,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS roll_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q46_session" ->
      s"""WITH g AS (
        |  SELECT user_id, value, epoch(ts) AS e,
        |    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts) > 7200 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, value, e,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY e
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM g)
        |SELECT user_id, min(e) AS session_start, count(*) AS n,
        |  ${Det.dsumSql("value")} AS value_sum, max(e) AS session_end
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q47_tumbling_event" ->
      """SELECT event_id, user_id,
        |  floor(epoch(ts) / 86400) * 86400 AS window_start,
        |  count(*) OVER w AS run_n,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS run_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, floor(epoch(ts) / 86400)
        |             ORDER BY ts RANGE UNBOUNDED PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "q48_cep" ->
      """SELECT a.user_id, a.event_id AS a_event_id, b.event_id AS b_event_id,
        |  c.event_id AS c_event_id
        |FROM events a, events b, events c
        |WHERE a.user_id = b.user_id AND b.user_id = c.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'click'
        |  AND c.event_type = 'purchase'
        |  AND b.ts > a.ts AND c.ts > b.ts
        |  AND epoch(b.ts) <= epoch(a.ts) + 86400
        |  AND epoch(c.ts) <= epoch(a.ts) + 86400
        |  AND b.value > a.value
        |ORDER BY a.user_id, a_event_id, b_event_id, c_event_id""".stripMargin,

    "q177_resample_locf" -> resampleOracle(interp = false),
    "q178_resample_interp" -> resampleOracle(interp = true),

    "q181_trailing_distinct" ->
      """WITH uh AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT min(h) AS mn, max(h) AS mx FROM uh),
        |grid AS (SELECT unnest(generate_series(mn, mx)) AS bucket FROM b)
        |SELECT g.bucket,
        |  CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_ids,
        |  CAST(coalesce(sum(u.n), 0) AS BIGINT) AS n_events
        |FROM grid g LEFT JOIN uh u ON u.h BETWEEN g.bucket - 23 AND g.bucket
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same bucket sums (dsum mirror), same ordered list fold, same
    // power-of-two decay — every IEEE add identical by construction.
    "q220_ewma" -> {
      val dsum = graft.functions.Det.dsumSql("value", 6)
      s"""WITH kb AS (SELECT user_id,
         |    epoch_us(ts) // 3600000000 AS bucket, $dsum AS v
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |h AS (SELECT user_id, bucket, v,
         |    list(struct_pack(b := bucket, v := v))
         |      OVER (PARTITION BY user_id ORDER BY bucket
         |        RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS hist
         |  FROM kb)
         |SELECT user_id, bucket, v,
         |  list_sum(list_transform(hist,
         |    p -> p.v * power(0.5, (bucket - p.b)::DOUBLE))) AS ewma
         |FROM h ORDER BY user_id, bucket""".stripMargin
    },

    // q54's bound-flag pattern: exact n_events restated from the raw
    // events; the HLL-vs-exact flags are stated as literal 1s.
    "q214_trailing_approx" ->
      """WITH uh AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT min(h) AS mn, max(h) AS mx FROM uh),
        |grid AS (SELECT unnest(generate_series(mn, mx)) AS bucket FROM b)
        |SELECT g.bucket,
        |  CAST(coalesce(sum(u.n), 0) AS BIGINT) AS n_events,
        |  CAST(1 AS BIGINT) AS ok_events, CAST(1 AS BIGINT) AS ok_ids
        |FROM grid g LEFT JOIN uh u ON u.h BETWEEN g.bucket - 23 AND g.bucket
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same KS rational in HUGEINT (int128 ≈ decimal(38)): per-value
    // side counts, one ordered cumulative pass over distinct values,
    // max |i·N_b − j·N_a|, significance as the squared integer compare.
    "q224_ks_drift" ->
      """WITH a AS (SELECT value AS v, CAST(count(*) AS BIGINT) AS ca
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT value AS v, CAST(count(*) AS BIGINT) AS cb
        |  FROM events WHERE event_type <> 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |j AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca,
        |    coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS i,
        |    sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS jj,
        |    sum(ca) OVER () AS ta, sum(cb) OVER () AS tb FROM j),
        |r AS (SELECT max(abs(i::HUGEINT * tb::HUGEINT
        |      - jj::HUGEINT * ta::HUGEINT)) AS num,
        |    CAST(max(ta) AS BIGINT) AS na, CAST(max(tb) AS BIGINT) AS nb
        |  FROM c)
        |SELECT na AS n_a, nb AS n_b, CAST(num AS BIGINT) AS ks_num,
        |  na * nb AS ks_den,
        |  num::DOUBLE / (na::HUGEINT * nb::HUGEINT)::DOUBLE AS ks,
        |  CAST(CASE WHEN 1000000::HUGEINT * num * num >
        |      1844164::HUGEINT * (na + nb)::HUGEINT
        |        * na::HUGEINT * nb::HUGEINT
        |    THEN 1 ELSE 0 END AS INT) AS significant
        |FROM r""".stripMargin,

    // q224's rational over the quantizer's bucket indices — the
    // equal-width clamp restated verbatim (floor/least/greatest on the
    // same IEEE doubles).
    "q235_quantized_ks" ->
      """WITH q AS (SELECT event_type,
        |    CAST(least(greatest(floor((value - 0.0) / 1.0), 0), 999)
        |      AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM q
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM q
        |  WHERE event_type <> 'purchase' GROUP BY 1),
        |j AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca,
        |    coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS i,
        |    sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS jj,
        |    sum(ca) OVER () AS ta, sum(cb) OVER () AS tb FROM j),
        |r AS (SELECT max(abs(i::HUGEINT * tb::HUGEINT
        |      - jj::HUGEINT * ta::HUGEINT)) AS num,
        |    CAST(max(ta) AS BIGINT) AS na, CAST(max(tb) AS BIGINT) AS nb
        |  FROM c)
        |SELECT na AS n_a, nb AS n_b, CAST(num AS BIGINT) AS ks_num,
        |  na * nb AS ks_den,
        |  num::DOUBLE / (na::HUGEINT * nb::HUGEINT)::DOUBLE AS ks,
        |  CAST(CASE WHEN 1000000::HUGEINT * num * num >
        |      1844164::HUGEINT * (na + nb)::HUGEINT
        |        * na::HUGEINT * nb::HUGEINT
        |    THEN 1 ELSE 0 END AS INT) AS significant
        |FROM r""".stripMargin,

    // rank buckets from quantile_cont boundaries (bit-compatible with
    // OrderStat's interpolation), assignment = boundaries strictly
    // below, then the q224 rational on bucket indices.
    "q242_rank_quantized_ks" -> {
      val qs = (1 until 16).map(_.toDouble / 16).mkString(", ")
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x
         |  FROM events WHERE value IS NOT NULL),
         |bs AS (SELECT quantile_cont(x, [$qs]) AS b FROM v),
         |q AS (SELECT event_type,
         |    CAST(len(list_filter(bs.b, e -> x > e)) AS BIGINT) AS vq
         |  FROM v CROSS JOIN bs),
         |a AS (SELECT vq AS v, CAST(count(*) AS BIGINT) AS ca FROM q
         |  WHERE event_type = 'purchase' GROUP BY 1),
         |b AS (SELECT vq AS v, CAST(count(*) AS BIGINT) AS cb FROM q
         |  WHERE event_type <> 'purchase' GROUP BY 1),
         |j AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca,
         |    coalesce(cb, 0) AS cb
         |  FROM a FULL OUTER JOIN b ON a.v = b.v),
         |c AS (SELECT
         |    sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS i,
         |    sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS jj,
         |    sum(ca) OVER () AS ta, sum(cb) OVER () AS tb FROM j),
         |r AS (SELECT max(abs(i::HUGEINT * tb::HUGEINT
         |      - jj::HUGEINT * ta::HUGEINT)) AS num,
         |    CAST(max(ta) AS BIGINT) AS na, CAST(max(tb) AS BIGINT) AS nb
         |  FROM c)
         |SELECT na AS n_a, nb AS n_b, CAST(num AS BIGINT) AS ks_num,
         |  na * nb AS ks_den,
         |  num::DOUBLE / (na::HUGEINT * nb::HUGEINT)::DOUBLE AS ks,
         |  CAST(CASE WHEN 1000000::HUGEINT * num * num >
         |      1844164::HUGEINT * (na + nb)::HUGEINT
         |        * na::HUGEINT * nb::HUGEINT
         |    THEN 1 ELSE 0 END AS INT) AS significant
         |FROM r""".stripMargin
    },

    // the per-group grid restated: groups × distinct values, per-group
    // cumulative i and global cumulative j, max rational per group.
    "q232_ks_by_group" ->
      """WITH r AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2),
        |gv AS (SELECT v, CAST(count(*) AS BIGINT) AS cv FROM r GROUP BY 1),
        |gs AS (SELECT g, CAST(count(*) AS BIGINT) AS ng FROM r GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |grid AS (SELECT gs.g, gs.ng, gv.v, gv.cv FROM gs CROSS JOIN gv),
        |cum AS (SELECT g, ng, v,
        |    sum(coalesce(pv.c, 0)) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS i,
        |    sum(cv) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS j
        |  FROM grid LEFT JOIN pv USING (g, v)),
        |red AS (SELECT g, ng, (SELECT n FROM tot) - ng AS rest,
        |    max(abs(i::HUGEINT * ((SELECT n FROM tot) - ng)::HUGEINT
        |      - (j - i)::HUGEINT * ng::HUGEINT)) AS num
        |  FROM cum GROUP BY 1, 2)
        |SELECT g AS event_type, ng AS n, rest AS n_rest,
        |  CAST(num AS BIGINT) AS ks_num, ng * rest AS ks_den,
        |  num::DOUBLE / (ng::HUGEINT * rest::HUGEINT)::DOUBLE AS ks,
        |  CAST(CASE WHEN 1000000::HUGEINT * num * num >
        |      1844164::HUGEINT * (ng + rest)::HUGEINT
        |        * ng::HUGEINT * rest::HUGEINT
        |    THEN 1 ELSE 0 END AS INT) AS significant
        |FROM red ORDER BY event_type""".stripMargin
  )

  /** Shared resample oracle: exact integer bucketing (floor-div on epoch
    * micros, mirroring Resample.bucketExpr), the engine's (ts, event_id)
    * last-pick via QUALIFY, per-key generate_series grid, and the two
    * fill modes. The interp arithmetic is the verbatim IEEE shape from
    * Resample.interp. */
  private def resampleOracle(interp: Boolean): String = {
    val w = 3600L * 1000000L
    val common =
      s"""WITH e AS (SELECT user_id,
         |    make_timestamp((epoch_us(ts) // $w) * $w) AS b,
         |    ts, event_id, value FROM events
         |  WHERE user_id < 8 AND event_type = 'purchase'),
         |cnt AS (SELECT user_id, b, count(*) AS n_obs FROM e GROUP BY 1, 2),
         |lv AS (SELECT user_id, b, value AS v FROM e
         |  QUALIFY row_number() OVER (PARTITION BY user_id, b
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |span AS (SELECT user_id, min(b) AS mn, max(b) AS mx
         |  FROM e GROUP BY 1),
         |grid AS (SELECT user_id,
         |  unnest(generate_series(mn, mx, INTERVAL 3600 SECOND)) AS b
         |  FROM span),
         |j AS (SELECT g.user_id, g.b, cnt.n_obs, lv.v,
         |    epoch_us(g.b) // $w AS bi
         |  FROM grid g LEFT JOIN cnt USING (user_id, b)
         |    LEFT JOIN lv USING (user_id, b))""".stripMargin
    val fill =
      if (!interp)
        """SELECT user_id, b AS bucket, coalesce(n_obs, 0) AS n_obs,
          |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
          |    ORDER BY b ROWS UNBOUNDED PRECEDING) AS value,
          |  CAST(n_obs IS NULL AS BIGINT) AS filled
          |FROM j""".stripMargin
      else
        """f AS (SELECT user_id, b, n_obs, bi, v,
          |    last_value(CASE WHEN n_obs IS NOT NULL
          |        THEN {'bi': bi, 'v': v} END IGNORE NULLS)
          |      OVER (PARTITION BY user_id ORDER BY b
          |        ROWS UNBOUNDED PRECEDING) AS p0,
          |    first_value(CASE WHEN n_obs IS NOT NULL
          |        THEN {'bi': bi, 'v': v} END IGNORE NULLS)
          |      OVER (PARTITION BY user_id ORDER BY b
          |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p1
          |  FROM j)
          |SELECT user_id, b AS bucket, coalesce(n_obs, 0) AS n_obs,
          |  CASE WHEN n_obs IS NULL THEN
          |    (p0.v * (CAST(p1.bi AS DOUBLE) - CAST(bi AS DOUBLE))
          |     + p1.v * (CAST(bi AS DOUBLE) - CAST(p0.bi AS DOUBLE)))
          |    / (CAST(p1.bi AS DOUBLE) - CAST(p0.bi AS DOUBLE))
          |  ELSE v END AS value,
          |  CAST(n_obs IS NULL AS BIGINT) AS filled
          |FROM f""".stripMargin
    val glue = if (interp) ",\n" else "\n"
    common + glue + fill + "\nORDER BY user_id, bucket"
  }
}
