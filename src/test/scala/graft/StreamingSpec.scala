package graft

import graft.plans.AsofDirection
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming variants driven through MemoryStream batches. */
class StreamingSpec extends SparkSpecBase {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def runToMemory(
      out: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming CEP matches across out-of-order batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import StreamingOps.CepEv
    val mem = MemoryStream[(String, Timestamp, String, Double)]
    val out = StreamingOps.streamingCep(
      mem.toDF.toDF("key", "ts", "etype", "value"),
      Seq(
        ("a", (e: CepEv) => e.etype == "view",
          (_: CepEv, _: Map[String, CepEv]) => true),
        ("b", (e: CepEv) => e.etype == "click",
          (e: CepEv, ctx: Map[String, CepEv]) => e.value > ctx("a").value)),
      maxSpanSeconds = 100, watermarkDelay = "20 seconds")
    // batch 1: the CLICK arrives before its view (cross-batch disorder);
    // batch 2: the view (still inside the watermark delay), a click that
    // fails the value predicate, and a watermark pusher on another key
    mem.addData(("k1", ts(10), "click", 5.0))
    mem.addData(("k1", ts(5), "view", 1.0), ("k1", ts(8), "click", 0.5),
      ("k9", ts(200), "view", 0.0))
    runToMemory(out, "cep_mem")
    val got = spark.table("cep_mem")
      .select(col("key"), col("a_t").cast("long"), col("b_t").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // exactly one match: view@5 -> click@10 (click@8 fails value pred;
    // the buffered click@10 was re-ordered behind the later-arriving view)
    assert(got == Seq(("k1", 5L, 10L)))
  }

  test("streaming tumbling window agg with watermark emits closed windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    // two windows for k1: [0,10) and [10,20); late watermark push via t=40
    mem.addData((ts(1), "k1", 1.0), (ts(3), "k1", 2.0), (ts(12), "k1", 4.0))
    mem.addData((ts(40), "k2", 9.0))
    val out = StreamingOps.windowedAgg(
      mem.toDF.toDF("t", "k", "v"), "t", "k",
      "10 seconds", "10 seconds", "0 seconds",
      Map("total" -> sum(col("v")), "n" -> count(lit(1))))
    runToMemory(out, "win_out")
    val rows = s.sql("SELECT k, window_start, total, n FROM win_out ORDER BY window_start")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getDouble(2), r.getLong(3)))
    assert(rows.toSeq == Seq(("k1", 0L, 3.0, 2L), ("k1", 10L, 4.0, 1L)))
  }

  test("streaming hopping window assigns events to overlapping windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData((ts(15), "k1", 2.0))   // in windows [0,20) and [10,30)
    mem.addData((ts(100), "k2", 0.0))  // watermark pusher
    val out = StreamingOps.windowedAgg(
      mem.toDF.toDF("t", "k", "v"), "t", "k",
      "20 seconds", "10 seconds", "0 seconds",
      Map("total" -> sum(col("v"))))
    runToMemory(out, "hop_out")
    val rows = s.sql("SELECT window_start, total FROM hop_out WHERE k='k1' ORDER BY window_start")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(1)))
    assert(rows.toSeq == Seq((0L, 2.0), (10L, 2.0)))
  }

  test("streaming session window groups by gap") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData((ts(1), "k1", 1.0), (ts(4), "k1", 1.0), (ts(30), "k1", 1.0))
    mem.addData((ts(200), "k9", 0.0)) // watermark pusher
    val out = StreamingOps.sessionAgg(
      mem.toDF.toDF("t", "k", "v"), "t", "k", "10 seconds", "0 seconds",
      Map("n" -> count(lit(1))))
    runToMemory(out, "sess_out")
    val rows = s.sql("SELECT k, session_start, n FROM sess_out WHERE k='k1' ORDER BY session_start")
      .collect().map(r => (r.getTimestamp(1).getTime / 1000, r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 2L), (30L, 1L))) // gap 26 > 10 splits
  }

  test("streaming distinct drops in-batch and cross-batch duplicates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData((ts(1), "a"), (ts(1), "a"), (ts(2), "b"))
    mem.addData((ts(1), "a"), (ts(3), "c"))
    val out = StreamingOps.streamingDistinct(
      mem.toDF.toDF("t", "k"), "t", "1 hour", Seq("k"))
    runToMemory(out, "dd_out")
    val ks = s.sql("SELECT k FROM dd_out ORDER BY k").collect().map(_.getString(0))
    assert(ks.toSeq == Seq("a", "b", "c"))
  }

  test("streaming forward asof fills alphas at the next tick, carrying unfilled state") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val al = MemoryStream[(String, Timestamp, Double)]
    val tk = MemoryStream[(String, Timestamp, Double)]
    // 30s delay: ticks may trail the alpha stream without being
    // late-dropped at the source (a 0s delay would discard a tick that
    // arrives after any later-stamped event — correct but untestable)
    val out = StreamingOps.streamingAsof(
      al.toDF.toDF("key", "ts", "value"),
      tk.toDF.toDF("key", "ts", "value"), "30 seconds", AsofDirection.Forward)
    val q = out.writeStream.format("memory").queryName("sfwd")
      .outputMode("append").start()
    // batch 1: alpha@100 arrives BEFORE any matching tick — must be carried
    al.addData(("A", ts(100), 1.0))
    tk.addData(("A", ts(50), 99.0)) // earlier tick: never a forward match
    q.processAllAvailable()
    // batch 2: the matching ticks arrive (watermark is 70, none late)
    al.addData(("A", ts(200), 2.0))
    tk.addData(("A", ts(150), 100.5), ("A", ts(250), 101.0))
    q.processAllAvailable()
    // batches 3-4: advance the watermark past both candidates
    tk.addData(("Z", ts(400), 0.0))
    q.processAllAvailable()
    tk.addData(("Z", ts(500), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT key, ts, fill_ts, fill_value FROM sfwd WHERE key='A' ORDER BY ts")
      .collect()
      .map(r => (r.getTimestamp(1).getTime / 1000,
        r.getTimestamp(2).getTime / 1000, r.getDouble(3)))
    assert(rows.toSeq == Seq(
      (100L, 150L, 100.5),  // filled by the first tick at-or-after 100
      (200L, 250L, 101.0)))
  }

  test("streaming asof joins ripe trades to the latest preceding quote") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val tr = MemoryStream[(String, Timestamp, Double)]
    val qu = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingOps.streamingAsof(
      tr.toDF.toDF("key", "ts", "value"),
      qu.toDF.toDF("key", "ts", "value"), "0 seconds")
    val q = out.writeStream.format("memory").queryName("sasof")
      .outputMode("append").start()
    // batch 1: quotes + trades for A; watermark still at 0 → nothing ripe
    qu.addData(("A", ts(5), 99.5), ("A", ts(19), 100.5))
    tr.addData(("A", ts(10), 1.0), ("A", ts(20), 2.0))
    q.processAllAvailable()
    // batch 2: watermark advances past both trades
    tr.addData(("Z", ts(100), 0.0))
    q.processAllAvailable()
    // batch 3: one more processing round so trades ripened by batch-2's
    // watermark emit
    qu.addData(("Z", ts(200), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT key, ts, value, quote_value FROM sasof WHERE key='A' ORDER BY ts")
      .collect()
      .map(r => (r.getTimestamp(1).getTime / 1000, r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(rows.toSeq == Seq(
      (10L, 1.0, Some(99.5)),   // quote@5
      (20L, 2.0, Some(100.5)))) // quote@19
  }

  test("streaming asof is µs-exact: a same-ms later-offset quote still wins") {
    // Round-8 fix (round-7 advice): ripeness compared in MICROS. Spark's
    // late filter drops eventTimeMicros <= wm*1000, so after wm reaches
    // a trade's ms, a quote in the SAME ms with a LARGER sub-ms offset
    // can still legally arrive. The old ms-truncated test ripened the
    // trade a batch early and matched the stale quote.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def tsu(us: Long) = {
      val t = new Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000).toInt)
      t
    }
    val tr = MemoryStream[(String, Timestamp, Double)]
    val qu = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingOps.streamingAsof(
      tr.toDF.toDF("key", "ts", "value"),
      qu.toDF.toDF("key", "ts", "value"), "0 seconds")
    val q = out.writeStream.format("memory").queryName("sasof_us")
      .outputMode("append").start()
    // batch 1: trade A @10.000900s, quote @10.000200s → wm becomes 10000ms
    tr.addData(("A", tsu(10000900L), 1.0))
    qu.addData(("A", tsu(10000200L), 99.0))
    q.processAllAvailable()
    // batch 2: the TRUE latest preceding quote @10.000700s arrives — NOT
    // late (10000700 > wm*1000 = 10000000). An ms-ripeness bug would have
    // already emitted the trade against the @200µs quote. Z pushes wm on.
    qu.addData(("A", tsu(10000700L), 77.0), ("Z", ts(100), 0.0))
    q.processAllAvailable()
    // batch 3: wm past the trade in µs → it emits with the @700µs quote
    qu.addData(("Z", ts(200), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT value, quote_value FROM sasof_us WHERE key='A'").collect()
    assert(rows.length == 1)
    assert(rows(0).getDouble(1) == 77.0)
  }

  test("streaming forward asof TTL evicts unfilled alphas past the horizon") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val al = MemoryStream[(String, Timestamp, Double)]
    val tk = MemoryStream[(String, Timestamp, Double)]
    // TTL 5s: an alpha the watermark has left >5s behind is evicted
    // (default -1 keeps the reference's carry-forever semantics,
    // covered by the spec above)
    val out = StreamingOps.streamingAsof(
      al.toDF.toDF("key", "ts", "value"),
      tk.toDF.toDF("key", "ts", "value"), "0 seconds", AsofDirection.Forward,
      leftTtlMs = 5000L)
    val q = out.writeStream.format("memory").queryName("sfwd_ttl")
      .outputMode("append").start()
    al.addData(("A", ts(10), 1.0))    // alpha, no tick yet
    q.processAllAvailable()
    tk.addData(("Z", ts(100), 0.0))   // wm → 100s: alpha is 90s stale
    q.processAllAvailable()
    // a tick at 150s would have filled the alpha if it were still held
    tk.addData(("A", ts(150), 42.0), ("Z", ts(200), 0.0))
    q.processAllAvailable()
    tk.addData(("Z", ts(300), 0.0))
    q.processAllAvailable()
    q.stop()
    assert(s.sql("SELECT * FROM sfwd_ttl WHERE key='A'").count() == 0)
  }

  test("streaming asof rejects the Nearest direction before any query starts") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val tr = MemoryStream[(String, Timestamp, Double)]
    val qu = MemoryStream[(String, Timestamp, Double)]
    val active = s.streams.active.length
    val e = intercept[IllegalArgumentException](StreamingOps.streamingAsof(
      tr.toDF.toDF("key", "ts", "value"),
      qu.toDF.toDF("key", "ts", "value"), "0 seconds", AsofDirection.Nearest))
    assert(e.getMessage.contains("Nearest"))
    assert(s.streams.active.length == active)
  }

  test("streaming asof removes a key whose state is empty") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val al = MemoryStream[(String, Timestamp, Double)]
    val tk = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingOps.streamingAsof(
      al.toDF.toDF("key", "ts", "value"),
      tk.toDF.toDF("key", "ts", "value"), "0 seconds", AsofDirection.Forward)
    val q = out.writeStream.format("memory").queryName("sfwd_rm")
      .outputMode("append").start()
    al.addData(("A", ts(10), 1.0))
    tk.addData(("A", ts(15), 2.0))
    q.processAllAvailable()
    tk.addData(("Z", ts(100), 0.0))
    q.processAllAvailable()
    tk.addData(("Z", ts(200), 0.0))
    q.processAllAvailable()
    q.stop()
    assert(s.sql("SELECT fill_value FROM sfwd_rm WHERE key='A'")
      .collect().map(_.getDouble(0)).toSeq == Seq(2.0))
    // A filled and left nothing behind; only Z's unripe tick is stored
    assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
  }

  test("flatMapGroupsWithState running totals accumulate across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(String, Double)]
    mem.addData(("k1", 1.0), ("k1", 2.0))
    val out = StreamingOps.runningTotals(mem.toDF.toDF("k", "v"), "k", "v")
    val q = out.writeStream.format("memory").queryName("rt_out")
      .outputMode("update").start()
    q.processAllAvailable()
    mem.addData(("k1", 4.0))
    q.processAllAvailable()
    q.stop()
    val last = s.sql("SELECT n, total FROM rt_out WHERE k='k1' ORDER BY n DESC LIMIT 1")
      .head()
    assert(last.getLong(0) == 3L && last.getDouble(1) == 7.0)
  }
}

/** Round-10 tie-proofing: the q104/q105 gates must survive a fixture
  * with duplicate (key, ts) rows — the operators break ties by
  * (ts, value) deterministically (max value for the backward quote pick,
  * min value for the forward fill), independent of arrival order, and
  * the rewritten two-step oracles state exactly those picks. */
class StreamingTieSpec extends SparkSpecBase {
  import graft.streaming.StreamingOps
  import java.sql.Timestamp

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("backward asof tie: equal-ts quotes resolve to max value, any arrival order") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val tr = MemoryStream[(String, Timestamp, Double)]
    val qu = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingOps.streamingAsof(
      tr.toDF.toDF("key", "ts", "value"),
      qu.toDF.toDF("key", "ts", "value"), "0 seconds")
    val q = out.writeStream.format("memory").queryName("tie_asof")
      .outputMode("append").start()
    // key A: low value quote arrives FIRST; key B: high value first —
    // both must resolve identically (max value 99.0 at the tied ts)
    qu.addData(("A", ts(5), 11.0), ("A", ts(5), 99.0),
               ("B", ts(5), 99.0), ("B", ts(5), 11.0))
    tr.addData(("A", ts(10), 1.0), ("B", ts(10), 1.0))
    q.processAllAvailable()
    tr.addData(("Z", ts(100), 0.0))
    q.processAllAvailable()
    qu.addData(("Z", ts(200), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT key, quote_value FROM tie_asof WHERE key IN ('A','B') ORDER BY key")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("A", 99.0), ("B", 99.0)))
  }

  test("forward asof tie: equal-ts ticks resolve to min value, any arrival order") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val al = MemoryStream[(String, Timestamp, Double)]
    val tk = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingOps.streamingAsof(
      al.toDF.toDF("key", "ts", "value"),
      tk.toDF.toDF("key", "ts", "value"), "0 seconds", AsofDirection.Forward)
    val q = out.writeStream.format("memory").queryName("tie_fwd")
      .outputMode("append").start()
    tk.addData(("A", ts(15), 42.0), ("A", ts(15), 7.0),
               ("B", ts(15), 7.0), ("B", ts(15), 42.0))
    al.addData(("A", ts(10), 1.0), ("B", ts(10), 1.0))
    q.processAllAvailable()
    tk.addData(("Z", ts(100), 0.0))
    q.processAllAvailable()
    tk.addData(("Z", ts(200), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT key, fill_value FROM tie_fwd WHERE key IN ('A','B') ORDER BY key")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("A", 7.0), ("B", 7.0)))
  }

  test("duplicate trade rows keep their multiplicity (oracle join-back parity)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val tr = MemoryStream[(String, Timestamp, Double)]
    val qu = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingOps.streamingAsof(
      tr.toDF.toDF("key", "ts", "value"),
      qu.toDF.toDF("key", "ts", "value"), "0 seconds")
    val q = out.writeStream.format("memory").queryName("tie_mult")
      .outputMode("append").start()
    qu.addData(("A", ts(5), 50.0))
    // the SAME trade row twice — two emitted rows, like the oracle's
    // join-back of t to the per-(key, ts) match relation
    tr.addData(("A", ts(10), 1.0), ("A", ts(10), 1.0))
    q.processAllAvailable()
    tr.addData(("Z", ts(100), 0.0))
    q.processAllAvailable()
    qu.addData(("Z", ts(200), 0.0))
    q.processAllAvailable()
    q.stop()
    val n = s.sql("SELECT * FROM tie_mult WHERE key = 'A'").count()
    assert(n == 2)
  }

  test("streamUpsertToMor: later micro-batch supersedes, commits are versions") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val dir = java.nio.file.Files.createTempDirectory("mor_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mor_sink_ck").toString
    val q = StreamingOps.streamUpsertToMor(
      mem.toDF.toDF("k", "ts", "v"), dir, "k", "ts", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 1: two keys, an in-batch duplicate for k=1 (latest ts wins)
    mem.addData((1L, ts(10), 1.0), (1L, ts(20), 2.0), (2L, ts(5), 9.0))
    q.processAllAvailable()
    // batch 2: k=1 superseded again, k=3 inserted
    mem.addData((1L, ts(30), 3.0), (3L, ts(1), 7.0))
    q.processAllAvailable()
    q.stop()
    val out = graft.sources.MergeOnRead.readMerged(s, dir, "k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == Map(1L -> 3.0, 2L -> 9.0, 3L -> 7.0))
    // each micro-batch is one auditable upsert commit
    assert(graft.sources.Snapshots.history(s, dir).count() == 2L)
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after watermark clears ts+lookback") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val lm = MemoryStream[(Timestamp, Long, Long)]
    val rm = MemoryStream[(Timestamp, Long, Long)]
    lm.addData((ts(100), 1L, 10L), (ts(200), 2L, 11L))
    rm.addData((ts(95), 1L, 20L))
    val out = StreamingOps.streamStreamIntervalJoin(
      lm.toDF.toDF("p_ts", "user_id", "p_id"), "p_ts",
      rm.toDF.toDF("v_ts", "user_id", "v_id"), "v_ts",
      Seq("user_id"), lookbackSec = 30, watermarkDelay = "0 seconds",
      joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    q.processAllAvailable()
    // push BOTH watermarks a full lookback past the last purchase
    lm.addData((ts(500), 9L, 90L))
    rm.addData((ts(500), 9L, 91L))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT user_id, p_id, v_id FROM ssj_outer WHERE user_id < 9 ORDER BY p_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 10L, 20L), (2L, 11L, -1L)))
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.streamStreamIntervalJoin(
        lm.toDF.toDF("p_ts", "user_id", "p_id"), "p_ts",
        rm.toDF.toDF("v_ts", "user_id", "v_id"), "v_ts",
        Seq("user_id"), 30, "0 seconds", "full_outer")
    }
    assert(ex.getMessage.contains("inner|left_outer"))
  }

  test("stream-stream interval join matches within the lookback, evicts outside") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val lm = MemoryStream[(Timestamp, Long, Long)]
    val rm = MemoryStream[(Timestamp, Long, Long)]
    // purchases at t=100 (u1), t=200 (u2); views at t=95/40 (u1), t=205 (u2)
    lm.addData((ts(100), 1L, 10L), (ts(200), 2L, 11L))
    rm.addData((ts(95), 1L, 20L), (ts(40), 1L, 21L), (ts(205), 2L, 22L))
    val out = StreamingOps.streamStreamIntervalJoin(
      lm.toDF.toDF("p_ts", "user_id", "p_id"), "p_ts",
      rm.toDF.toDF("v_ts", "user_id", "v_id"), "v_ts",
      Seq("user_id"), lookbackSec = 30, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT user_id, p_id, v_id FROM ssj_out ORDER BY p_id, v_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // u1: view@95 within [70,100] matches; view@40 outside; u2: view@205 is AFTER the purchase
    assert(rows.toSeq == Seq((1L, 10L, 20L)))
    // same-name event-time columns are rejected up front
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.streamStreamIntervalJoin(
        lm.toDF.toDF("t", "user_id", "p_id"), "t",
        rm.toDF.toDF("t", "user_id", "v_id"), "t",
        Seq("user_id"), 30, "0 seconds")
    }
    assert(ex.getMessage.contains("distinctly named"))
  }
}
