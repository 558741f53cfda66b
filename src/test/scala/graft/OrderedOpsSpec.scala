package graft

import graft.api.OrderedStream
import graft.plans.AsofDirection
import graft.ts._
import org.apache.spark.sql.functions._

/** Ordered-stream operators: asof join, shift, windows, CEP
  * (SURVEY §2.9). */
class OrderedOpsSpec extends SparkSpecBase {

  private def trades() = {
    val s = spark
    import s.implicits._
    new OrderedStream(Seq(
      ("A", 10.0, 100.0), ("A", 20.0, 101.0), ("A", 35.0, 102.0),
      ("B", 12.0, 200.0)).toDF("sym", "t", "px"), "t")
  }
  private def quotes() = {
    val s = spark
    import s.implicits._
    new OrderedStream(Seq(
      ("A", 9.0, 99.5), ("A", 19.0, 100.5), ("A", 20.0, 100.7),
      ("B", 30.0, 199.0)).toDF("sym", "t", "bid"), "t")
  }

  test("readSortedParquet tags an OrderedStream usable by ordered ops") {
    val qc = new graft.api.QContext(spark)
    trades().df.write.mode("overwrite").parquet("target/test-io/trades_sorted")
    val os = qc.readSortedParquet("target/test-io/trades_sorted", "t")
    assert(os.timeCol == "t")
    val shifted = os.shift(Seq("px"), 1, by = "sym")
    assert(shifted.df.columns.contains("px_shifted"))
    assert(shifted.count() == 4)
  }

  test("readSortedParquet verify accepts disjoint file ranges, rejects overlap") {
    val s = spark
    import s.implicits._
    val qc = new graft.api.QContext(spark)
    // two files with disjoint [lo, hi] time ranges
    val dir = "target/test-io/sorted_verify"
    Seq(1.0, 2.0, 3.0).toDF("t").coalesce(1).write.mode("overwrite").parquet(dir)
    Seq(4.0, 5.0).toDF("t").coalesce(1).write.mode("append").parquet(dir)
    assert(qc.readSortedParquet(dir, "t", verify = true).count() == 5)
    // a third file overlapping the first two must be rejected
    Seq(2.5, 4.5).toDF("t").coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      qc.readSortedParquet(dir, "t", verify = true)
    }
    assert(e.getMessage.contains("sortedness contract violated"))
  }

  test("asof backward: latest right at or before left time, per key") {
    val out = trades().asofJoin(quotes(), "sym").df
      .orderBy("sym", "t")
      .select(col("sym"), col("t"), col("bid"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("A", 10.0, Some(99.5)),   // quote@9
      ("A", 20.0, Some(100.7)),  // exact-time tie matches
      ("A", 35.0, Some(100.7)),
      ("B", 12.0, None)))        // B's only quote is later
  }

  test("asof nearest: smallest |dt| wins, tie to backward, backward's exchanges") {
    val out = AsofJoin(trades(), quotes(), "sym", AsofDirection.Nearest).df
    val rows = out.orderBy("sym", "t")
      .select(col("sym"), col("t"), col("bid"), col("asof_dir"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("A", 10.0, Some(99.5), "b"),   // quote@9 (d=1) vs quote@19 (d=9)
      ("A", 20.0, Some(100.7), "b"),  // exact-time tie: backward, d=0
      ("A", 35.0, Some(100.7), "b"),  // only backward exists
      ("B", 12.0, Some(199.0), "f"))) // only forward exists (quote@30)
    // nearest keeps both candidates in the one merge, so it plans
    // exactly backward's exchanges: one per side on the asof key, over
    // multi-partition inputs (a one-partition LocalRelation plans none)
    def exchanges(dir: AsofDirection) = {
      def spread(o: OrderedStream) = new OrderedStream(o.df.repartition(3), "t")
      val plan = AsofJoin(spread(trades()), spread(quotes()), "sym", dir)
        .df.queryExecution.executedPlan
      object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      Aqe.collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    }
    val nBackward = exchanges(AsofDirection.Backward)
    assert(nBackward >= 2, s"expected an exchange per side, got $nBackward")
    assert(exchanges(AsofDirection.Nearest) == nBackward)
    // tolerance bounds BOTH directions
    val tol = AsofJoin(trades(), quotes(), "sym", AsofDirection.Nearest,
        tolerance = Some(5L)).df
      .orderBy("sym", "t")
      .select(col("sym"), col("t"), col("asof_dir")).collect()
      .map(r => (r.getString(0), r.getDouble(1), Option(r.getString(2))))
    assert(tol.toSeq == Seq(
      ("A", 10.0, Some("b")),  // d=1 within 5
      ("A", 20.0, Some("b")),  // d=0
      ("A", 35.0, None),       // backward d=15, no forward
      ("B", 12.0, None)))      // forward d=18 > 5
  }

  test("asof forward: earliest right at or after left time, per key") {
    val out = trades().asofJoin(quotes(), "sym",
      direction = AsofDirection.Forward).df
      .orderBy("sym", "t")
      .select(col("sym"), col("t"), col("bid"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("A", 10.0, Some(100.5)),  // next quote is @19
      ("A", 20.0, Some(100.7)),  // exact-time tie matches forward too
      ("A", 35.0, None),         // no later quote
      ("B", 12.0, Some(199.0))))
  }

  test("asof forward tolerance drops far-future matches") {
    val out = trades().asofJoin(quotes(), "sym", tolerance = Some(5L),
      direction = AsofDirection.Forward).df
      .orderBy("sym", "t")
      .select(col("sym"), col("t"), col("bid"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("A", 10.0, None),         // quote@19 is 9 > 5 away
      ("A", 20.0, Some(100.7)),
      ("A", 35.0, None),
      ("B", 12.0, None)))        // quote@30 is 18 > 5 away
  }

  test("asof formulations agree on the events table") {
    val ev = graft.queries.Tables.events(spark, sf())
    val l = new OrderedStream(ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value"), "ts")
    val r = new OrderedStream(ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value"), "ts")
    // self-derived sides (shared scan → exprId dedup path) on real data
    val a = AsofJoin(l, r, "user_id").df
    val b = AsofCoGroup.coGrouped(l, r, "user_id")
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("physical asof tolerates null event times (defined result, no NPE)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("sym", StringType),
      StructField("t", DoubleType), StructField("px", DoubleType)))
    val rSchema = StructType(Seq(StructField("sym", StringType),
      StructField("t", DoubleType), StructField("bid", DoubleType)))
    val l = new OrderedStream(spark.createDataFrame(
      java.util.Arrays.asList(
        Row("A", null, 1.0), Row("A", 10.0, 2.0)), lSchema), "t")
    val r = new OrderedStream(spark.createDataFrame(
      java.util.Arrays.asList(
        Row("A", null, 98.0), Row("A", 9.0, 99.0)), rSchema), "t")
    val out = AsofJoin(l, r, "sym").df
      .orderBy(col("t").asc_nulls_first)
      .select(col("t"), col("bid")).collect()
      .map(x => (Option(x.get(0)), Option(x.get(1))))
    // null left time → null payload; null-time quote is never a match
    assert(out.toSeq == Seq(
      (None, None), (Some(10.0), Some(99.0))))
  }

  test("asof tolerance drops stale matches") {
    val out = trades().asofJoin(quotes(), "sym", tolerance = Some(5L)).df
      .orderBy("sym", "t")
      .select(col("t"), col("bid"))
      .collect()
      .map(r => (r.getDouble(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      (10.0, Some(99.5)), (20.0, Some(100.7)), (35.0, None), (12.0, None)))
  }

  private def asofError(l: OrderedStream, r: OrderedStream, by: String) =
    intercept[org.apache.spark.sql.AnalysisException](AsofJoin(l, r, by))
      .getCondition

  test("asof join rejects a missing by or time column") {
    assert(asofError(trades(), quotes(), "nope") ==
      "UNRESOLVED_COLUMN.WITH_SUGGESTION")
    assert(asofError(new OrderedStream(trades().df, "nope"), quotes(), "sym") ==
      "UNRESOLVED_COLUMN.WITH_SUGGESTION")
    assert(asofError(trades(), new OrderedStream(quotes().df, "nope"), "sym") ==
      "UNRESOLVED_COLUMN.WITH_SUGGESTION")
  }

  test("asof join rejects by columns whose types differ") {
    val intKeys = new OrderedStream(quotes().df.withColumn("k", lit(1)), "t")
    val longKeys = new OrderedStream(trades().df.withColumn("k", lit(1L)), "t")
    assert(asofError(longKeys, intKeys, "k") ==
      "DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES")
  }

  test("asof join rejects a time column that is neither numeric nor timestamp") {
    val strTime = new OrderedStream(quotes().df.withColumn("s", lit("9")), "s")
    assert(asofError(trades(), strTime, "sym") ==
      "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE")
    val dateTime = new OrderedStream(
      trades().df.withColumn("d", current_date()), "d")
    assert(asofError(dateTime, quotes(), "sym") ==
      "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE")
  }

  test("asof join matches a double left time against a timestamp right time") {
    val s = spark
    import s.implicits._
    val l = new OrderedStream(Seq(("A", 10.0), ("A", 20.5)).toDF("sym", "t"), "t")
    val r = new OrderedStream(Seq(("A", 9L, 1.0), ("A", 20L, 2.0), ("A", 21L, 3.0))
      .toDF("sym", "sec", "bid").select(col("sym"),
        timestamp_seconds(col("sec")).as("ts"), col("bid")), "ts")
    def bids(dir: AsofDirection) = AsofJoin(l, r, "sym", dir).df
      .orderBy("t").select("bid").collect().map(_.getDouble(0)).toSeq
    assert(bids(AsofDirection.Backward) == Seq(1.0, 2.0))
    assert(bids(AsofDirection.Forward) == Seq(2.0, 3.0))
    assert(bids(AsofDirection.Nearest) == Seq(1.0, 2.0)) // 20.5: |Δt| tie → b
  }

  test("shift = lag per key in time order") {
    val out = trades().shift(Seq("px"), 1, by = "sym").df
      .orderBy("sym", "t").collect()
      .map(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
    assert(out.toSeq == Seq(None, Some(100.0), Some(101.0), None))
  }

  test("tumbling window on-completion aggregates fixed buckets") {
    val out = trades().windowedTransform(TumblingWindow(20.0), "sym",
      Map("n" -> count(lit(1)), "mx" -> max(col("px")))).df
      .orderBy("sym", "window_start").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("A", 0.0, 1L, 100.0), ("A", 20.0, 2L, 102.0), ("B", 0.0, 1L, 200.0)))
  }

  test("sliding window: trailing range per event") {
    val out = trades().windowedTransform(SlidingWindow(10.0), "sym",
      Map("n" -> count(lit(1)))).df
      .orderBy("sym", "t").collect().map(_.getLong(3))
    // A@10→1, A@20→2 (10,20), A@35→1, B@12→1
    assert(out.toSeq == Seq(1L, 2L, 1L, 1L))
  }

  test("session window groups by gap timeout") {
    val out = trades().windowedTransform(SessionWindow(12.0), "sym",
      Map("n" -> count(lit(1)))).df
      .orderBy("sym", "session_start").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    // A: 10,20 in one session (gap 10 ≤ 12); 35 alone (gap 15 > 12)
    assert(out.toSeq == Seq(
      ("A", 10.0, 2L, 20.0), ("A", 35.0, 1L, 35.0), ("B", 12.0, 1L, 12.0)))
  }

  test("hopping window on-event: running agg per live window") {
    // hop 10, size 20 → event at t=35 lives in windows starting 20 and 30
    val out = trades().windowedTransform(HoppingWindow(10.0, 20.0), "sym",
      Map("n" -> count(lit(1))), trigger = OnEventTrigger).df
      .filter(col("sym") === "A" && col("t") === 35.0)
      .select("window_start", "n").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    // window [20,40) already saw the event at t=20 → running n=2 there
    assert(out.toSeq == Seq((20.0, 2L), (30.0, 1L)))
  }

  test("hopping window on-completion counts overlapping membership") {
    val out = trades().windowedTransform(HoppingWindow(10.0, 20.0), "sym",
      Map("n" -> count(lit(1)))).df
      .filter(col("sym") === "A").orderBy("window_start").collect()
      .map(r => (r.getDouble(1), r.getLong(2)))
    // A events at 10, 20, 35 → windows: 0(ev10), 10(ev10,20), 20(ev20,35), 30(ev35)
    assert(out.toSeq == Seq((0.0, 1L), (10.0, 2L), (20.0, 2L), (30.0, 1L)))
  }

  test("CEP pattern: a then b within span, per key") {
    val s = spark
    import s.implicits._
    val ev = new OrderedStream(Seq(
      ("u1", 1.0, 10.0), ("u1", 3.0, 50.0),  // rise within 5 → match
      ("u2", 1.0, 10.0), ("u2", 20.0, 50.0)  // too far apart
    ).toDF("k", "t", "v"), "t")
    val out = ev.patternRecognize(
      Seq("a" -> "v < 20", "b" -> "v > 40"), maxSpan = 5L, by = "k")
    assert(out.select("k").collect().map(_.getString(0)).toSeq == Seq("u1"))
  }

  test("CEP pattern: a dotted string literal is compared as written") {
    val s = spark
    import s.implicits._
    val ev = new OrderedStream(Seq(
      ("u1", 1.0, "example.com"), ("u1", 2.0, "a.b"),
      ("u2", 1.0, "example_com"), ("u2", 2.0, "a.b")
    ).toDF("k", "t", "url"), "t")
    val out = ev.patternRecognize(
      Seq("a" -> "url = 'example.com'", "b" -> "a.url <> url AND url = 'a.b'"),
      maxSpan = 5L, by = "k")
    assert(out.select("k", "a_url", "b_url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("u1", "example.com", "a.b")))
  }

  test("CEP entries raise typed errors on the driver before any job") {
    import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
    val s = spark
    import s.implicits._
    val base = Seq(("u1", 1.0, 10.0)).toDF("k", "t", "v")
    val typed: Seq[Cep.Event[Row]] =
      Seq(("a", (_: Row) => true, (_: Row, _: Map[String, Row]) => true))
    // each case through both entries: SQL and typed predicates
    def error(df: DataFrame, time: String, by: String): Seq[AnalysisException] = {
      val os = new OrderedStream(df, time)
      Seq(() => Cep.patternRecognize(os, Seq("a" -> "v > 0"), 5.0, by),
        () => Cep.nfaPatternRecognize(os, typed, 5.0, by)).map { build =>
        var e: AnalysisException = null
        assert(jobsDuring { e = intercept[AnalysisException](build()) } == 0)
        e
      }
    }
    (error(base, "t", "user") ++ error(base, "ts", "k")).foreach { e =>
      assert(e.getCondition == "UNRESOLVED_COLUMN.WITH_SUGGESTION", e)
    }
    Seq("STRING" -> col("t").cast("string"),
      "DATE" -> to_date(lit("2024-01-01")),
      "TIMESTAMP_NTZ" -> to_timestamp_ntz(lit("2024-01-01 00:00:00")))
      .foreach { case (sqlType, t) =>
        error(base.withColumn("t", t), "t", "k").foreach { e =>
          assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e)
          assert(e.getMessageParameters.get("inputType") == s"\"$sqlType\"")
        }
      }
  }
}

/** Round-10 batch-as-of tie-proofing (the batch twin of
  * StreamingTieSpec): among right rows tied on time, the AsofJoinExec
  * merge picks the MAX payload tuple backward and the MIN forward,
  * regardless of input row order. Every payload value comes from the
  * one matched right row, nulls included, and a null time never
  * matches. */
class BatchAsofTieSpec extends SparkSpecBase {
  import graft.api.OrderedStream
  import graft.plans.AsofDirection.{Forward, Nearest}
  import graft.ts.AsofJoin

  private def os(rows: Seq[(String, Double, Double)], v: String) = {
    val s = spark
    import s.implicits._
    new OrderedStream(rows.toDF("sym", "t", v), "t")
  }

  test("backward: equal-ts quotes resolve to max value, order-independent") {
    val t = Seq(("A", 10.0, 1.0), ("B", 10.0, 1.0))
    // A sees the low quote value first, B the high one first — the
    // winner (99.0, the max at the tied ts) must not depend on order
    val q = Seq(("A", 5.0, 11.0), ("A", 5.0, 99.0),
                ("B", 5.0, 99.0), ("B", 5.0, 11.0))
    val rows = AsofJoin(os(t, "px"), os(q, "bid"), by = "sym")
      .df.select("sym", "bid").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(rows == Seq(("A", 99.0), ("B", 99.0)))
  }

  test("forward: equal-ts ticks resolve to min value, order-independent") {
    val a = Seq(("A", 10.0, 1.0), ("B", 10.0, 1.0))
    val tk = Seq(("A", 15.0, 42.0), ("A", 15.0, 7.0),
                 ("B", 15.0, 7.0), ("B", 15.0, 42.0))
    val rows = AsofJoin(os(a, "d"), os(tk, "px"), by = "sym", Forward)
      .df.select("sym", "px").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(rows == Seq(("A", 7.0), ("B", 7.0)))
  }

  test("tie at the trade's own instant still matches (inclusive <=)") {
    val t = Seq(("A", 10.0, 1.0))
    val q = Seq(("A", 10.0, 5.0), ("A", 10.0, 9.0))
    val rows = AsofJoin(os(t, "px"), os(q, "bid"), by = "sym")
      .df.select("bid").collect().map(_.getDouble(0)).toSeq
    assert(rows == Seq(9.0))
  }

  /** Nullable (sym, t, v) rows: a null in any column is kept. */
  private def nullable(v: String,
      rows: (String, java.lang.Double, java.lang.Double)*): OrderedStream = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("sym", StringType),
      StructField("t", DoubleType), StructField(v, DoubleType)))
    new OrderedStream(spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (k, t, x) => Row(k, t, x) }: _*), schema), "t")
  }

  /** (t, t_right, bid) per left row, null left times first. */
  private def picked(out: OrderedStream) =
    out.df.orderBy(col("t").asc_nulls_first)
      .select("t", "t_right", "bid").collect()
      .map(r => (0 to 2).map(i => Option(r.get(i))).toList).toSeq

  // the matched quote's own null must not be back-filled from an older
  // quote: every payload value comes from the one matched right row
  private def quotesWithNull = nullable("bid",
    ("A", 4.0, 77.0), ("A", 5.0, 99.0), ("A", 8.0, null))

  test("backward: a null in the matched quote stays null (no torn row)") {
    val out = AsofJoin(nullable("px", ("A", 10.0, 1.0)), quotesWithNull,
      by = "sym")
    assert(picked(out) == Seq(List(Some(10.0), Some(8.0), None)))
  }

  test("forward: a null in the matched quote stays null (no torn row)") {
    val q = nullable("bid", ("A", 2.0, null), ("A", 4.0, 77.0))
    val out = AsofJoin(nullable("px", ("A", 1.0, 1.0)), q, by = "sym",
      Forward)
    assert(picked(out) == Seq(List(Some(1.0), Some(2.0), None)))
  }

  test("nearest: the picked quote's null stays null (no torn row)") {
    val out = AsofJoin(nullable("px", ("A", 10.0, 1.0)), quotesWithNull,
      by = "sym", Nearest)
    assert(picked(out) == Seq(List(Some(10.0), Some(8.0), None)))
    assert(out.df.select("asof_dir").collect().map(_.getString(0)).toSeq ==
      Seq("b"))
  }

  test("a null left time matches nothing in any direction") {
    val l = nullable("px", ("A", null, 1.0), ("A", 10.0, 2.0))
    val q = nullable("bid", ("A", null, 98.0), ("A", 9.0, 99.0),
      ("A", 12.0, 97.0))
    val none = List(None, None, None)
    assert(picked(AsofJoin(l, q, by = "sym")) ==
      Seq(none, List(Some(10.0), Some(9.0), Some(99.0))))
    assert(picked(AsofJoin(l, q, by = "sym", Forward)) ==
      Seq(none, List(Some(10.0), Some(12.0), Some(97.0))))
    val nearest = AsofJoin(l, q, by = "sym", Nearest)
    assert(picked(nearest) ==
      Seq(none, List(Some(10.0), Some(9.0), Some(99.0))))
    assert(nearest.df.orderBy(col("t").asc_nulls_first).select("asof_dir")
      .collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(None, Some("b")))
  }
}

/** Round-10: the remaining arg-min/max gates' tie behavior, proven on
  * deliberately tie-ful inputs. */
class ArgExtremeTieSpec extends SparkSpecBase {

  test("OHLCV open/close composite arg-min/max resolve ties deterministically") {
    val s = spark
    import s.implicits._
    // two ticks at the candle's only instant: open = min value,
    // close = max value, in BOTH insertion orders
    for (rows <- Seq(Seq((1L, 10.0, 5.0), (1L, 10.0, 9.0)),
                     Seq((1L, 10.0, 9.0), (1L, 10.0, 5.0)))) {
      val r = rows.toDF("user_id", "ts", "value")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.expr(
            "min_by(value, struct(ts, value))").as("open"),
          org.apache.spark.sql.functions.expr(
            "max_by(value, struct(ts, value))").as("close"))
        .head()
      assert(r.getDouble(1) == 5.0 && r.getDouble(2) == 9.0)
    }
  }

  test("mingle ties at one instant: lower stream id opens, higher closes") {
    val s = spark
    import s.implicits._
    val purch = Seq((7L, 10.0)).toDF("user_id", "tsd")
    val views = Seq((7L, 10.0)).toDF("user_id", "tsd")
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaInt)
    val out = new graft.api.QContext(s)
      .mingle[(Long, Int, Int)](Map(1 -> purch, 2 -> views),
        Seq("user_id"), Seq("tsd")) { it =>
        var first = 0; var last = 0; var u = 0L
        it.foreach { case (sid, r) =>
          u = r.getLong(0)
          if (first == 0) first = sid
          last = sid
        }
        // empty partitions see no rows — emit nothing there
        if (first == 0) Iterator.empty else Iterator.single((u, first, last))
      }.collect().toSeq
    assert(out == Seq((7L, 1, 2)))
  }
}

/** Round-10: per-event running windows include time-tied peers (RANGE
  * frame), so running totals are fixture-order-independent. */
class RunningWindowTieSpec extends SparkSpecBase {
  import graft.api.OrderedStream
  import graft.ts.{OnEventTrigger, TumblingWindow}
  import org.apache.spark.sql.functions.{col, count, lit}

  test("tied events share identical running counts in both insertion orders") {
    val s = spark
    import s.implicits._
    for (rows <- Seq(Seq((1L, 10.0, 100L), (1L, 10.0, 200L), (1L, 20.0, 300L)),
                     Seq((1L, 10.0, 200L), (1L, 10.0, 100L), (1L, 20.0, 300L)))) {
      val out = new OrderedStream(rows.toDF("user_id", "ts", "event_id"), "ts")
        .windowedTransform(TumblingWindow(86400), by = "user_id",
          aggs = Map("run_n" -> count(lit(1))), trigger = OnEventTrigger)
        .df.select("event_id", "run_n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // both tied events see each other: run_n = 2 for each; the later
      // event sees all three
      assert(out == Seq((100L, 2L), (200L, 2L), (300L, 3L)))
    }
  }
}

/** IntervalJoin: the bucketed-equi overlap join must equal the naive
  * inequality join (computed driver-side) and emit each pair exactly
  * once regardless of how many buckets a pair shares. */
class IntervalJoinSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions.col

  test("overlap equals brute force, exactly once, across widths and signs") {
    val s = spark
    import s.implicits._
    // deterministic mixed fixture: long spans (many buckets), touching
    // endpoints (closed semantics: s2 == e1 overlaps), negative
    // coordinates, an empty interval (e < s, must drop), two keys
    val rows = Seq(
      (1L, 10L, 0L, 100L), (1L, 11L, 100L, 100L), (1L, 12L, 101L, 200L),
      (1L, 13L, -50L, 5L), (1L, 14L, 60L, 40L), // empty: drops
      (2L, 20L, 0L, 1000L), (2L, 21L, 999L, 1001L), (2L, 22L, -10L, -1L),
      (2L, 23L, 500L, 500L))
    val df = rows.toDF("k", "id", "s", "e")
    val expect = (for {
      (k1, i1, s1, e1) <- rows if e1 >= s1
      (k2, i2, s2, e2) <- rows if e2 >= s2 && k1 == k2
      if s1 <= e2 && s2 <= e1
    } yield (k1, i1, i2)).toSet
    for (w <- Seq(1L, 7L, 64L, 10000L)) {
      val got = IntervalJoin.overlap(df, df, Seq("k"), "s", "e", w)
        .select(col("k"), col("id"), col("id_r")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == got.toSet.size, s"duplicate emit at width $w")
      assert(got.toSet == expect, s"pair set mismatch at width $w")
    }
  }

  test("overlap joins two distinct relations with suffixed columns") {
    val s = spark
    import s.implicits._
    val sessions = Seq((1L, 100L, 0L, 50L)).toDF("k", "sid", "s", "e")
    val ads = Seq((1L, 7L, 49L, 60L), (1L, 8L, 51L, 60L))
      .toDF("k", "aid", "s", "e")
    val out = IntervalJoin.overlap(sessions, ads, Seq("k"), "s", "e", 16L)
      .select("sid", "aid_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((100L, 7L))) // ad 8 starts after the session ends
  }
}
