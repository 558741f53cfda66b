package graft.queries

import graft.api.OrderedStream
import graft.functions.Det
import graft.plans.AsofDirection
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's rottnest app-layer workloads beyond candlestick/
  * full-text (already q39/q75): the tick-level trading backtest
  * (apps/rottnest/backtester.py — the repo's headline "4 years of SIP in
  * 10 minutes" workload, blog/backtest.md:34) and the per-symbol
  * transpose/pivot (apps/rottnest/transpose.py).
  *
  * The backtest re-expressed declaratively over the `events` table
  * (user_id = symbol, value = price):
  *   1. alpha signals → fills via FORWARD as-of join (first tick
  *      at-or-after the signal — backtester.py:59's
  *      `join_asof(strategy="forward")`), the AsofJoinExec merge: one
  *      exchange + sort on symbol per side;
  *   2. position/cash deltas at fill time; daily equity = running cash +
  *      Σ position(sym, day) × last price(sym, day), exactly the
  *      reference's per-day mark-to-market loop (backtester.py:74-92),
  *      with the same conventions: a positioned symbol with no trade
  *      that day contributes zero, and equity is only emitted for days
  *      present in the tick stream.
  *
  * Evident-intent divergence (documented, COVERAGE.md): the reference's
  * `generate_random_alpha` emits the +5h exit signal with the SAME
  * direction as the entry (backtester.py:21-22), so positions double
  * instead of closing; we negate the exit direction.
  */
object RottnestQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q80_backtest" -> { (s, d) =>
      val ev = events(s, d)
      val trades = ev.select(col("user_id").as("symbol"), col("ts"),
        col("value").as("price"))
      // deterministic alpha stream: every 7th purchase event, long/short
      // by event id parity; exit = negated direction 5 hours later
      val entries = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 7 === 0)
        .select(col("ts"), col("user_id").as("symbol"),
          when(col("event_id") % 2 === 0, 1).otherwise(-1).as("direction"))
      // dropDuplicates mirrors the oracle's rn=1-per-(symbol,ts,direction)
      // semantics in the (measure-zero but possible) case where an exit
      // lands exactly on another entry's timestamp. Entry + exit emitted
      // by ONE explode over the filtered scan — the union form planned
      // the same filtered events read twice.
      val alphas = entries.select(explode(array(
          struct(col("ts"), col("symbol"), col("direction")),
          struct((col("ts") + expr("INTERVAL 5 HOURS")).as("ts"),
            col("symbol"), (-col("direction")).as("direction")))).as("a"))
        .select(col("a.ts").as("ts"), col("a.symbol").as("symbol"),
          col("a.direction").as("direction"))
        .dropDuplicates("symbol", "ts", "direction")
      val fills = new OrderedStream(alphas, "ts")
        .asofJoin(new OrderedStream(trades, "ts"), by = "symbol",
          direction = AsofDirection.Forward).df
        .filter(col("price").isNotNull)
        .select(col("symbol"), col("direction"), col("price").as("fill_price"),
          to_date(col("ts_right")).as("fill_day"))
      // last tick per (symbol, day) — the mark price. price joins the
      // ordering (round-10 tie-proofing): among ticks tied on the day's
      // max ts the MAX price marks, deterministically on any fixture
      val dayLast = trades
        .withColumn("day", to_date(col("ts")))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("symbol"), col("day"))
            .orderBy(col("ts").desc, col("price").desc)))
        .filter(col("__rn") === 1)
        .select(col("symbol"), col("day"), col("price"))
      // ONE dataflow from here: fill rows and mark rows union into a
      // per-symbol stream ordered by day (fills of a day sort before
      // that day's mark), positions come from a running window instead
      // of the old fills⨝marks fill_day<=day join — which was
      // quadratic in signals-per-symbol AND consumed fills twice, so
      // the whole as-of join (the tick shuffle, the dominant cost)
      // planned and ran twice. Stock equity and cash deltas fall out of
      // one conditional aggregation per day; every traded day has a
      // mark row (a fill's price IS a tick of that day), so this also
      // replaces the separate day-axis scan. Cash decimals carry
      // Det.dsum's exact bround representation so per-day sums are
      // bit-identical to the old per-consumer Det.dsum calls.
      // (Bench note: the old form LOOKED 3x faster under Bench's
      // .count() because its final day axis was `trades.select(day)
      // .distinct` left-joined to the aggregates — Catalyst eliminates
      // unique-key left joins and unused windows under a bare count,
      // so that number timed counting distinct days, not the backtest.
      // This form's day grain comes from the union itself, so nothing
      // prunes and the bench number measures the real pipeline.)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol")).orderBy(col("day"), col("is_mark"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val u = dayLast.select(col("symbol"), col("day"), col("price"),
          lit(null).cast("int").as("direction"),
          lit(null).cast("decimal(25,0)").as("dc_dec"),
          lit(1).as("is_mark"))
        .unionByName(fills.select(col("symbol"),
          col("fill_day").as("day"),
          lit(null).cast("double").as("price"),
          col("direction"),
          bround((col("direction") * col("fill_price")) * lit(1e6), 0)
            .cast("decimal(25,0)").as("dc_dec"),
          lit(0).as("is_mark")))
        .withColumn("pos", sum(col("direction")).over(w))
      val perDay = u.groupBy(col("day")).agg(
        Det.dsum(when(col("is_mark") === 1, col("pos") * col("price")))
          .as("stock_equity"),
        sum(when(col("is_mark") === 0, col("dc_dec"))).as("dc_dec_sum"))
      perDay
        .withColumn("cash", sum(coalesce(
            -col("dc_dec_sum").cast("double") / lit(1e6), lit(0.0))).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
        .select(col("day"),
          (col("cash") + coalesce(col("stock_equity"), lit(0.0))).as("equity"))
        .orderBy(col("day"))
    },

    // Per-day pivot of the event stream into one column per event type
    // (reference apps/rottnest/transpose.py's Builder executor: partition
    // by symbol, emit per-key wide rows). Values enumerated explicitly so
    // the plan skips the distinct-values pre-job — at 100 TB an implicit
    // pivot would scan the data twice.
    "q81_pivot" -> { (s, d) =>
      events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(Det.dsum(col("value")))
        .orderBy(col("day"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q80_backtest" ->
      s"""WITH trades AS (
        |  SELECT user_id AS symbol, ts, value AS price FROM events),
        |entries AS (
        |  SELECT ts, user_id AS symbol,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS direction
        |  FROM events WHERE event_type = 'purchase' AND event_id % 7 = 0),
        |alphas AS (
        |  SELECT * FROM entries
        |  UNION ALL
        |  SELECT ts + INTERVAL 5 HOUR, symbol, -direction FROM entries),
        |fills AS (
        |  -- tie-insensitive two-step (round-10): earliest fill ts per
        |  -- alpha, then the MIN price among ticks tied at that ts —
        |  -- the forward as-of's (ts, price) tie-break, stated exactly
        |  SELECT fa.symbol, fa.direction, tp.price AS fill_price,
        |    CAST(fa.fill_ts AS DATE) AS fill_day
        |  FROM (
        |    SELECT a.symbol, a.ts, a.direction, min(t.ts) AS fill_ts
        |    FROM (SELECT DISTINCT symbol, ts, direction FROM alphas) a
        |    JOIN trades t ON a.symbol = t.symbol AND t.ts >= a.ts
        |    GROUP BY a.symbol, a.ts, a.direction) fa
        |  JOIN (SELECT symbol, ts, min(price) AS price
        |        FROM trades GROUP BY 1, 2) tp
        |    ON tp.symbol = fa.symbol AND tp.ts = fa.fill_ts),
        |day_last AS (
        |  -- same treatment for the mark: max ts per (symbol, day),
        |  -- then the MAX price among ticks tied at that ts
        |  SELECT dm.symbol, dm.day, tm.price
        |  FROM (
        |    SELECT symbol, CAST(ts AS DATE) AS day, max(ts) AS mts
        |    FROM trades GROUP BY 1, 2) dm
        |  JOIN (SELECT symbol, ts, max(price) AS price
        |        FROM trades GROUP BY 1, 2) tm
        |    ON tm.symbol = dm.symbol AND tm.ts = dm.mts),
        |posv AS (
        |  SELECT dl.symbol, dl.day, dl.price, sum(f.direction) AS pos
        |  FROM day_last dl JOIN fills f
        |    ON f.symbol = dl.symbol AND f.fill_day <= dl.day
        |  GROUP BY 1, 2, 3),
        |se AS (SELECT day, ${Det.dsumSql("pos * price")} AS stock_equity
        |       FROM posv GROUP BY 1),
        |dcash AS (
        |  SELECT fill_day AS day, -${Det.dsumSql("direction * fill_price")} AS dc
        |  FROM fills GROUP BY 1),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM trades),
        |cash AS (
        |  SELECT d.day, sum(coalesce(c.dc, 0)) OVER (ORDER BY d.day
        |    ROWS UNBOUNDED PRECEDING) AS cash
        |  FROM days d LEFT JOIN dcash c ON d.day = c.day)
        |SELECT ca.day, ca.cash + coalesce(se.stock_equity, 0) AS equity
        |FROM cash ca LEFT JOIN se ON ca.day = se.day
        |ORDER BY ca.day""".stripMargin,

    "q81_pivot" ->
      s"""SELECT CAST(ts AS DATE) AS day,
        |  ${Det.dsumSql("CASE WHEN event_type = 'click' THEN value END")} AS "click",
        |  ${Det.dsumSql("CASE WHEN event_type = 'error' THEN value END")} AS "error",
        |  ${Det.dsumSql("CASE WHEN event_type = 'purchase' THEN value END")} AS "purchase",
        |  ${Det.dsumSql("CASE WHEN event_type = 'signup' THEN value END")} AS "signup",
        |  ${Det.dsumSql("CASE WHEN event_type = 'view' THEN value END")} AS "view"
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
