package graft.queries

import graft.api.{DataStream, OrderedStream, QContext}
import graft.functions.Det
import graft.ts.Cep
import graft.udx.Aggregators
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle gates for operators that previously had spec-only coverage
  * (round-5 verdict: 11 inventory rows verified by `sbt test` alone).
  * Each entry drives the operator through the driver's DuckDB compare:
  * exact results where SQL can state them, integer bound-flags where
  * the operator is approximate by design (the q54 pattern).
  */
object GateQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** CDF rank-bound flag shared by the sketch gates (q54/q96/q245 —
    * r15 review: three drifting copies): |F(threshold) − p| ≤ tol over
    * `valueCol`, as an int 0/1 aggregate named `name`. */
  private[queries] def cdfFlag(valueCol: org.apache.spark.sql.Column,
      threshold: org.apache.spark.sql.Column, p: Double, tol: Double,
      name: String): org.apache.spark.sql.Column =
    (abs(sum(when(valueCol <= threshold, 1L).otherwise(0L))
      .cast("double") / count(lit(1)) - lit(p)) <= lit(tol))
      .cast("int").as(name)

  /** Drive a bounded Structured Streaming query to completion
    * (AvailableNow trigger, complete-mode memory sink) and return the
    * final result table — the harness that lets true streaming plans run
    * under the batch DuckDB oracle gate.
    *
    * Cost floor (round 9, from `StreamingQuery.recentProgress`): each gate
    * is ~1.3–1.9 s regardless of fixture size — two micro-batches (the
    * watermark only ripens results in the batch AFTER the data batch; a
    * bounded run cannot skip the flush batch), ~0.5 s of state-store
    * commit + WAL even for the zero-row flush, plus query start/stop.
    * That is Structured Streaming's fixed machinery, amortized to noise
    * on real unbounded streams; the removable overhead (fixture asserts,
    * sentinel rebuilds) was hoisted out of the benched path this round.
    *
    * State-partition sizing: the commit half of that floor is PER STATE
    * PARTITION per micro-batch, and the partition count is fixed by
    * `spark.sql.shuffle.partitions` at query start (recorded in the
    * checkpoint) — a capacity decision, not semantics. The bounded
    * gates carry KB-scale state, so the session's 32 partitions mean
    * 64+ store commits for two micro-batches of real work; they run at
    * 4 here, exactly as a production job sizes state partitions to key
    * cardinality (and raises them for a 100 TB stream). The conf is
    * set/restored around the bounded run only.
    *
    * Checkpoint I/O is fork-free: the offset/commit logs, state-store
    * deltas and checksum files go through `graft.sources.LocalFileBinding`
    * (bound by `GraftFunctions.register`), which sets modes and probes
    * links through `java.nio` where stock Hadoop without `libhadoop`
    * started a `chmod` or `readlink` process per file (152 per q100 run). */
  private def runToMemory(s: SparkSession, streamDf: DataFrame,
      name: String, outputMode: String = "complete"): DataFrame = {
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(shuffleKey)
    s.conf.set(shuffleKey, "4")
    try {
      val q = streamDf.writeStream.format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(shuffleKey, prev)
    s.table(name)
  }

  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** µs TIMESTAMP view of a raw `ts` column in either fixture vintage
    * (int64-nanos or µs TIMESTAMP_NTZ — see Tables.events). */
  private def tsxOf(tsType: DataType) = tsType match {
    case LongType => timestamp_micros(expr("ts div 1000"))
    case _        => col("ts").cast(TimestampType)
  }

  /** Streaming file-source view of the events table with `tsx` normalized
    * to µs TIMESTAMP in whichever vintage the fixture shipped (see
    * Tables.events). Nanos-long fixtures additionally need
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set at session build
    * (Verify/Bench/SharedSpark/tools) — a query constructor must not
    * mutate shared session conf (round-8 verdict). */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val tsT = Tables.eventsRawTsType(s, d)
    if (tsT == LongType)
      require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
        "set spark.sql.legacy.parquet.nanosAsLong=true at session build " +
          "(events.ts is parquet TIMESTAMP(NANOS))")
    // two fixture layouts exist: a flat single file `events.parquet`
    // (driver testdata — glob-filter the parent dir to the one table)
    // and a DIRECTORY `events.parquet/part-*.parquet` (the soak's
    // replicated sf1 — a name glob on part files matches nothing and
    // silently yields an EMPTY stream; burned by q208's soak)
    val asDir = java.nio.file.Paths.get(d, "events.parquet")
    val src =
      if (java.nio.file.Files.isDirectory(asDir))
        s.readStream.schema(eventsSchema(tsT)).parquet(asDir.toString)
      else
        s.readStream.schema(eventsSchema(tsT))
          .option("pathGlobFilter", "events.parquet").parquet(d)
    src.withColumn("tsx", tsxOf(tsT))
  }

  /** Fixture-uniqueness NOTICE (historical: through round 9 the
    * q104/q105/q109 oracles were tie-sensitive and this was a hard
    * require). Round 10 tie-proofed every gate, so duplicate
    * (user_id, event_type, ts) triples are legal in a regenerated
    * fixture — this check only LOGS their presence for visibility (the
    * operators' deterministic tie-breaks then decide the picks, proven
    * by StreamingTieSpec on a tie-inducing fixture). */
  private val eventTriplesChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def assertEventTriplesUnique(s: SparkSession, d: String): Unit = {
    // Once per (JVM, fixture dir): this checks a property of the FIXTURE,
    // not of the query — running its two count jobs inside every gate
    // build polluted q104/q105/q109's bench times (round-8 verdict).
    // Round-10: a NOTICE, no longer a hard require — the q104/q105/q109
    // oracles are now tie-INSENSITIVE (two-step max/min tie-break picks
    // mirrored by the operators' (ts, value) ordering; count(DISTINCT)),
    // so a regenerated fixture with duplicate triples is legal. The
    // check stays for visibility: StreamingTieSpec proves the gates on
    // a deliberately tie-inducing fixture.
    eventTriplesChecked.computeIfAbsent(d, _ => {
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      val n = ev.count()
      val nd = ev.distinct().count()
      if (n != nd) println(s"[gate] NOTE: events fixture at $d has " +
        s"${n - nd} duplicate (user_id, event_type, ts) triples — " +
        "tie-insensitive oracles handle this; ties exercise the " +
        "operators' deterministic (ts, value) tie-breaks")
      java.lang.Boolean.TRUE
    })
    ()
  }

  // (round-10: the former assertDocumentsAscii fixture guard is gone —
  // q113's oracle now chunks BYTES via hex(encode(text)) and is exact
  // for any fixture content, ASCII or not.)

  /** [[eventsStream]] plus ONE sentinel row (user_id -1, `event_type`
    * `et`, ts = max real event + 5 ms, via a second single-file streaming
    * source unioned in): pushes the bounded run's FINAL watermark
    * strictly past every real event. StreamingOps' round-8 µs-exact
    * ripeness (`t <= wm*1000`) is the correct unbounded-stream predicate,
    * but in a bounded AvailableNow run the watermark stops AT the max
    * event's ms — a real event with a sub-ms offset inside that final ms
    * would stay pending forever and the gate would undercount. The
    * sentinel keys to -1 so it can never join or emit (q104: a quote
    * later than every trade; q105: an alpha no tick can fill). */
  /** Sentinel dirs to delete at JVM exit — ONE shared shutdown hook
    * over a concurrent set (round-10 review: the first cut registered a
    * Thread per dir and leaked a DirectoryStream per level). */
  private[graft] lazy val sweepAtExit: java.util.Set[String] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach { dir =>
        try {
          val root = java.nio.file.Paths.get(dir)
          if (java.nio.file.Files.exists(root)) {
            val walk = java.nio.file.Files.walk(root)
            try {
              walk.sorted(java.util.Comparator.reverseOrder())
                .forEach(p =>
                  try java.nio.file.Files.deleteIfExists(p)
                  catch { case _: Throwable => () })
            } finally walk.close()
          }
        } catch { case _: Throwable => () }
      }
    }))
    dirs
  }

  private val jvmDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** One scratch directory per (JVM, `prefix`) under `java.io.tmpdir`,
    * made on first use and swept at exit. A query that rewrites it on
    * every run repeats the same work, and never races another JVM (a
    * test suite beside a bench run) writing the same fixed path. */
  private[queries] def jvmTempDir(prefix: String): String =
    jvmDirs.computeIfAbsent(prefix, _ => {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      sweepAtExit.add(dir)
      dir
    })

  private val sentinelDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** `offsetUs`: how far past the fixture's max event time the sentinel
    * sits. The 5 ms default ripens window/asof state; a stream-stream
    * OUTER join needs the sentinel a full relative-window width past
    * the end — Spark evicts (and outer-emits) a buffered left row only
    * once the watermark passes `ts + window width`, so a 5 ms push
    * strands every unmatched row from the stream's last window in
    * state forever (q198 burned this: exactly one purchase missing). */
  private def eventsStreamWithSentinel(
      s: SparkSession, d: String, et: String,
      offsetUs: Long = 5000L): DataFrame = {
    // Build the one-row sentinel file ONCE per (JVM, fixture dir, type) at
    // a deterministic path (overwritten, so reruns reuse rather than
    // accumulate /tmp dirs — round-8 advice): the driver-side max() scan
    // and parquet write are fixture setup, not part of the streaming
    // query Bench times.
    val tsT = Tables.eventsRawTsType(s, d)
    val tmp = sentinelDirs.computeIfAbsent(s"$d|$et|$offsetUs", _ => {
      // batch events table carries the µs timestamp as `ts` (Tables.events
      // normalizes either vintage in place; `tsx` exists only on the stream)
      val maxUs = Tables.events(s, d)
        .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
      val key = java.lang.Integer.toHexString(s"$d|$et|$offsetUs".hashCode)
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_wm_sentinel_$key").toString
      import s.implicits._
      val us = maxUs + offsetUs
      // write ts in the fixture's own vintage so the sentinel stream can
      // share eventsStream's source schema (unionByName needs one type)
      val row = tsT match {
        case LongType =>
          Seq((-1L, us * 1000L, -1L, et, 0.0, ""))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        case TimestampNTZType =>
          Seq((-1L, java.time.LocalDateTime.ofEpochSecond(
              us / 1000000L, ((us % 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC), -1L, et, 0.0, ""))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        case _ =>
          Seq((-1L, java.time.Instant.EPOCH.plus(
              us, java.time.temporal.ChronoUnit.MICROS), -1L, et, 0.0, ""))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      }
      row.write.mode("overwrite").parquet(dir)
      // deterministic path ⇒ reruns overwrite instead of accumulating;
      // still sweep it at JVM exit so /tmp holds nothing between runs
      // (round-9 verdict hygiene item). One SHARED hook for all dirs —
      // not one Thread per fixture — and Files.walk inside
      // try-with-resources so the delete holds no directory fds open.
      sweepAtExit.add(dir)
      dir
    })
    val sentinel = s.readStream.schema(eventsSchema(tsT)).parquet(tmp)
      .withColumn("tsx", tsxOf(tsT))
    eventsStream(s, d).unionByName(sentinel)
  }

  // Unstarted streaming aggregates, shared by the gates below (which
  // drive them to completion via runToMemory) and PlanHygieneSpec (which
  // pins their stateful-operator / watermark node counts without running
  // them — the post-run memory-table plan the catalog-wide sweep sees
  // carries none of the streaming shape).
  private[graft] def q100Plan(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingOps.windowedAgg(
      eventsStream(s, d), "tsx", "user_id", "86400 seconds",
      "86400 seconds", "0 seconds",
      Map("n" -> count(lit(1)), "value_sum" -> Det.dsum(col("value"))))

  private[graft] def q101Plan(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingOps.sessionAgg(
      eventsStream(s, d), "tsx", "user_id", "7200 seconds", "0 seconds",
      Map("n" -> count(lit(1)), "value_sum" -> Det.dsum(col("value"))))

  /** q243: watermarked tumbling per-window category counts — the
    * streaming half of drift-on-arrival; the drained counts feed the
    * r13/r14 grid math ([[graft.agg.Eval.chiSquareDriftByGroupFromCounts]]). */
  private[graft] def q243Plan(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingOps.windowedAgg(
      eventsStream(s, d), "tsx", "event_type", "86400 seconds",
      "86400 seconds", "0 seconds",
      Map("n" -> count(lit(1))))

  private def asofSide(ev: DataFrame, t: String): DataFrame =
    ev.filter(col("event_type") === t)
      .select(col("user_id").as("key"), col("tsx").as("ts"), col("value"))

  private[graft] def q104Plan(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStreamWithSentinel(s, d, et = "view")
    graft.streaming.StreamingOps.streamingAsof(
      asofSide(ev, "purchase"), asofSide(ev, "view"), "0 seconds")
  }

  private[graft] def q105Plan(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStreamWithSentinel(s, d, et = "purchase")
    graft.streaming.StreamingOps.streamingAsof(
      asofSide(ev, "purchase"), asofSide(ev, "view"), "0 seconds",
      graft.plans.AsofDirection.Forward)
  }

  private[graft] def q128Plan(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.StreamingOps.CepEv
    val ev = eventsStreamWithSentinel(s, d, et = "__wm__")
      .select(col("user_id").cast("string").as("key"), col("tsx").as("ts"),
        col("event_type").as("etype"), col("value"))
    graft.streaming.StreamingOps.streamingCep(ev, Seq(
      ("a", (e: CepEv) => e.etype == "view",
        (_: CepEv, _: Map[String, CepEv]) => true),
      ("b", (e: CepEv) => e.etype == "click",
        (e: CepEv, ctx: Map[String, CepEv]) => e.value > ctx("a").value),
      ("c", (e: CepEv) => e.etype == "purchase",
        (_: CepEv, _: Map[String, CepEv]) => true)),
      maxSpanSeconds = 86400, watermarkDelay = "0 seconds")
  }

  private[graft] def q108Plan(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingOps.windowedAgg(
      eventsStream(s, d), "tsx", "user_id", "86400 seconds",
      "43200 seconds", "0 seconds",
      Map("n" -> count(lit(1)), "value_sum" -> Det.dsum(col("value"))))

  /** q150/q151 fixture: the 3-commit merge-on-read table, built ONCE
    * per (JVM, fixture dir) — q150, q151, and every bench rep share it
    * (the documentsStreamDirs discipline; a per-invocation build paid
    * 6 snapshot writes + 6 uniqueness jobs twice per catalog pass).
    * Exactly v1..v3 ever exist, and the dir is swept at JVM exit. */
  private val morTableDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def buildMorTable(s: SparkSession, d: String): String =
    morTableDirs.computeIfAbsent(d, _ => buildMorTableOnce(s, d))

  private def buildMorTableOnce(s: SparkSession, d: String): String = {
    import graft.sources.MergeOnRead
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q150_mor").toString
    sweepAtExit.add(dir)
    val docs = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    MergeOnRead.upsert(docs.filter(col("doc_id") % 3 =!= 0), dir, "doc_id")
    MergeOnRead.upsert(
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" v2"))),
      dir, "doc_id")
    MergeOnRead.delete(
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"), dir, "doc_id")
    dir
  }

  /** The fixture's documents.parquet is a single FILE; the streaming
    * file source lists a DIRECTORY. Copy it into a deterministic temp
    * dir once per (JVM, fixture) — arrival-directory setup, not part of
    * the streaming query — reusing the sentinel sweep discipline. */
  private val docsStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def documentsStreamDir(d: String): String =
    docsStreamDirs.computeIfAbsent(d, _ => {
      val key = java.lang.Integer.toHexString(d.hashCode)
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_docs_stream_$key")
      java.nio.file.Files.createDirectories(dir)
      // clear stale files first: the path is keyed by fixture dir and
      // survives a killed run's exit sweep — leftover part files from a
      // previous (or differently-laid-out) fixture would silently ride
      // into the stream alongside the fresh copies (r13 review)
      locally {
        val st = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.toSeq
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } finally st.close()
      }
      val src = java.nio.file.Paths.get(d, "documents.parquet")
      // the driver fixtures are single parquet FILES; Spark-written
      // fixtures (Soak's target/sf1) are parquet DIRECTORIES —
      // Files.copy of a directory copies an EMPTY dir, which silently
      // fed the sf1 stream zero rows (caught round 13: q148's sf1 soak
      // measured an empty stream at ratio 0.22). Flatten part files.
      if (java.nio.file.Files.isDirectory(src)) {
        // sorted listing: Files.list order is unspecified and the
        // stream's batch composition should not depend on it
        val parts = {
          val st = java.nio.file.Files.list(src)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .toSeq.sortBy(_.getFileName.toString)
          } finally st.close()
        }
        require(parts.nonEmpty, s"documentsStreamDir: no part files under $src")
        parts.zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.copy(p, dir.resolve(f"part_$i%05d.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } else {
        java.nio.file.Files.copy(src, dir.resolve("documents.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      sweepAtExit.add(dir.toString)
      dir.toString
    })

  /** q148: streaming near-dup tagging — the incoming batch (doc_id%3==0)
    * arrives as a parquet file STREAM and is tagged against the static
    * corpus (%3<>0): stateless shingle/minhash/band projections, two
    * stream-static joins, ONE stateful operator (the multi-band pair
    * dedup). The oracle is q145's candidate+confirm pipeline as pairs. */
  private[graft] def q148Plan(s: SparkSession, d: String): DataFrame = {
    val docsB = documents(s, d)
    val incoming = s.readStream.schema(docsB.schema)
      .parquet(documentsStreamDir(d))
      .filter(col("doc_id") % 3 === 0)
    graft.dedup.Dedup.streamingNearDupTags(incoming,
      docsB.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
      TextDedupQueries.jaccardThreshold, TextDedupQueries.numHashes,
      TextDedupQueries.shingleK, TextDedupQueries.numBands)
  }

  /** q208 fixture: the purchases stream landed into a merge-on-read
    * table via the foreachBatch upsert sink — built ONCE per (JVM,
    * fixture dir); the gate reads the resolved table. */
  private val streamUpsertDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def builtStreamUpsertTable(s: SparkSession, d: String): String =
    streamUpsertDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q208_mor").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q208_ckpt").toString
      sweepAtExit.add(dir); sweepAtExit.add(ckpt)
      val src = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsx"), col("event_id"), col("value"))
      val q = graft.streaming.StreamingOps.streamUpsertToMor(
        src, dir, idCol = "user_id", orderCol = "tsx", checkpoint = ckpt)
      q.awaitTermination()
      dir
    })

  /** q191: watermarked STREAM-STREAM interval join — purchases matched
    * with the same user's views from the trailing hour. Both sides are
    * independent streaming sources with their own watermark; the time
    * bound on both event-time columns is what lets Spark evict both
    * join buffers (the unbounded-state trap this gate pins shut). */
  private[graft] def q191Plan(s: SparkSession, d: String): DataFrame = {
    val p = eventsStream(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsx").as("p_ts"),
        col("event_id").as("p_event_id"))
    val v = eventsStream(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("tsx").as("v_ts"),
        col("event_id").as("v_event_id"))
    graft.streaming.StreamingOps.streamStreamIntervalJoin(
        p, "p_ts", v, "v_ts", Seq("user_id"),
        lookbackSec = 3600, watermarkDelay = "0 seconds")
      .select("user_id", "p_event_id", "v_event_id")
  }

  /** q198: the LEFT-OUTER stream-stream interval join — purchases with
    * no same-user view in the trailing hour must still emit (view side
    * null). Outer emission requires the watermark to pass each left
    * row's ts, so both sides carry end-of-stream sentinels; the
    * sentinel rows themselves (user_id = −1) are filtered AFTER the
    * join, where they've already pushed the watermark. */
  private[graft] def q198Plan(s: SparkSession, d: String): DataFrame = {
    // sentinels a full lookback window + 5 ms past the end: eviction
    // (and so outer emission) of a left row waits for the watermark to
    // clear ts + lookback (see eventsStreamWithSentinel's offset doc)
    val off = 3600L * 1000000L + 5000L
    val p = eventsStreamWithSentinel(s, d, "purchase", off)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsx").as("p_ts"),
        col("event_id").as("p_event_id"))
    val v = eventsStreamWithSentinel(s, d, "view", off)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("tsx").as("v_ts"),
        col("event_id").as("v_event_id"))
    // NO sentinel filter inside the streaming plan: a left-column
    // predicate pushes below the left EventTimeWatermark node and
    // removes the sentinel BEFORE it can advance the watermark (burned
    // here: the left wm stuck at the last real purchase and exactly
    // one outer row never evicted). The gate drops sentinel rows from
    // the batch result instead.
    graft.streaming.StreamingOps.streamStreamIntervalJoin(
        p, "p_ts", v, "v_ts", Seq("user_id"),
        lookbackSec = 3600, watermarkDelay = "0 seconds",
        joinType = "left_outer")
      .select("user_id", "p_event_id", "v_event_id")
  }

  private[graft] def q109Plan(s: SparkSession, d: String): DataFrame = {
    def src = eventsStream(s, d).select(col("user_id"), col("event_type"),
      col("tsx"))
    graft.streaming.StreamingOps.streamingDistinct(
      src.unionByName(src), "tsx", "0 seconds",
      Seq("user_id", "event_type"))
  }

  /** The planted 64-bit hash for id (g = id/5, j = id%5) used by the
    * q134-q138 perceptual-hash fixtures: base byte y =
    * (g·mult(y) + y) mod 256 (mod 128 for y = 7, keeping the value
    * positive in signed 64-bit on both engines), assembled
    * little-endian; then XOR the nested variant mask
    * Σ_{k<j} 2^(8k + g mod 8) — so within-group hamming distances are
    * exactly |j1 − j2|. Each modality passes its own `mult` so the
    * three fixture families carry distinct hash populations.
    *
    * The g/256 and g/65536 terms matter (round-10 soak finding): with
    * g·mult alone every byte is periodic in g mod 256, so base hashes
    * REPEAT every 256 groups — at sf1 that planted identical-hash
    * families ~40 deep whose within-family pairs grew quadratically
    * with corpus size (q135's first soak ratio 4.8 was mostly this
    * fixture artifact, not the operator). Folding in the higher digits
    * stretches the period past 2^24 groups, so the synthetic hash
    * population scatters like a real corpus's. */
  private def plantedHash(g: Long, j: Int, mult: Int => Int): Long = {
    var hash = 0L
    var y = 0
    while (y < 8) {
      val m = if (y == 7) 128 else 256
      hash |= ((g * mult(y) + (g / 256) * (mult(y) + 17) +
        (g / 65536) * (mult(y) + 29) + y) % m) << (8 * y)
      y += 1
    }
    var k = 0
    while (k < j) { hash ^= 1L << (8 * k + (g % 8).toInt); k += 1 }
    hash
  }
  private val imageMult: Int => Int = y => (y + 3) * 37
  private val audioMult: Int => Int = y => (2 * y + 5) * 53
  private val videoMult: Int => Int = y => (3 * y + 7) * 41

  /** q134/q135 fixture: per-doc synthesized PNGs whose dHash is the
    * [[plantedHash]] of doc_id (see the q134 gate comment). Rows with
    * id%10==7 get garbage bytes. */
  private def phashBlobs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 5
        val j = (id % 5).toInt
        val blob: Array[Byte] =
          if (id % 10 == 7)
            Array.tabulate[Byte](24)(i => ((id * 37 + i * 11) % 253).toByte)
          else {
            val bits = plantedHash(g, j, imageMult)
            val sc = 1 + (g % 3).toInt
            // realize the bits as a 9-cell gray walk per row: cell 0 is
            // 0, each set bit steps +16 — dHash's strict > reads back
            // exactly the planted bit. s×s solid blocks make the
            // area-average exact at every scale.
            graft.multimodal.Multimodal.encodePng(9 * sc, 8 * sc) { (px, py) =>
              val cy = py / sc; val cx = px / sc
              var v = 0; var x = 0
              while (x < cx) {
                if (((bits >> (cy * 8 + x)) & 1L) == 1L) v += 16
                x += 1
              }
              (v << 16) | (v << 8) | v
            }
          }
        (id, blob)
      }).toDF("doc_id", "blob")
  }

  /** q136/q138 fixture: synthesized PCM16 WAVs whose audio fingerprint
    * is the [[plantedHash]] of doc_id — channel 0 walks a constant
    * amplitude per 65th of the stream, +16 per set bit (strict-mean
    * readback, same scheme as the image gray walk); 1- and 2-channel
    * variants (channel 1 carries a constant the hash must ignore);
    * frame counts 65/130/195 exercise the equal-share block split.
    * Rows with id%10==3 get garbage bytes. */
  private def audioPhashBlobs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 5
        val j = (id % 5).toInt
        val blob: Array[Byte] =
          if (id % 10 == 3)
            Array.tabulate[Byte](24)(i => ((id * 29 + i * 13) % 251).toByte)
          else {
            val bits = plantedHash(g, j, audioMult)
            val m = 1 + (g % 3).toInt
            val ch = 1 + (g % 2).toInt
            val levels = new Array[Short](65)
            var b = 0
            var v = 0
            while (b < 65) {
              levels(b) = v.toShort
              if (b < 64 && ((bits >> b) & 1L) == 1L) v += 16
              b += 1
            }
            graft.multimodal.Multimodal.encodeWavPcm16(8000, ch, 65 * m)(
              (c, i) => if (c == 0) levels(i / m) else 123.toShort)
          }
        (id, blob)
      }).toDF("doc_id", "blob")
  }

  /** q137 fixture: synthesized Y4M clips whose temporal fingerprint is
    * the [[plantedHash]] of doc_id — constant luma per 65th of the
    * stream, +2 per set bit (max 128 < 256); frame counts 65/130/195.
    * Rows with id%10==6 get garbage bytes. */
  private def videoPhashBlobs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 5
        val j = (id % 5).toInt
        val blob: Array[Byte] =
          if (id % 10 == 6)
            Array.tabulate[Byte](24)(i => ((id * 43 + i * 17) % 247).toByte)
          else {
            val bits = plantedHash(g, j, videoMult)
            val m = 1 + (g % 3).toInt
            val levels = new Array[Int](65)
            var b = 0
            var v = 0
            while (b < 65) {
              levels(b) = v
              if (b < 64 && ((bits >> b) & 1L) == 1L) v += 2
              b += 1
            }
            graft.multimodal.Multimodal.encodeY4m(6, 4, 25, 1, 65 * m)(
              (f, _) => levels(f / m))
          }
        (id, blob)
      }).toDF("doc_id", "blob")
  }

  val queries: Map[String, Q] = Map(
    // TRUE Structured Streaming tumbling window (StreamingOps.windowedAgg:
    // watermarked event-time window over an unbounded source) driven to
    // completion on the bounded fixture and gated against the same SQL
    // oracle as the batch form — the streaming family's first oracle gate.
    "q100_streaming_tumbling" -> { (s, d) =>
      runToMemory(s, q100Plan(s, d), "graft_q100_mem")
        .select(col("user_id"),
          col("window_start").cast("double").as("window_start"),
          col("n"), col("value_sum"))
        .orderBy("user_id", "window_start")
    },

    // streaming DRIFT-ON-ARRIVAL (r14): a real watermarked stream
    // rolls per-day category counts (one stateful windowed agg — the
    // only data-sized pass), and the drained counts feed the per-group
    // χ² grid math: each day's event-type mix graded against the rest
    // of the stream. The counts-based Eval entry point exists for
    // exactly this composition.
    "q243_streaming_drift" -> { (s, d) =>
      val counts = runToMemory(s, q243Plan(s, d), "graft_q243_mem")
        .select(col("window_start"), col("event_type"), col("n"))
      graft.agg.Eval.chiSquareDriftByGroupFromCounts(counts,
          "window_start", "event_type", "n")
        .select(col("window_start").cast("double").as("window_start"),
          col("event_type"), col("n_in"), col("n_rest"), col("contrib"))
        .orderBy("window_start", "event_type")
    },

    // Streaming session windows (StreamingOps.sessionAgg over the native
    // session_window): Spark merges an event landing EXACTLY gap after
    // the previous one (break is strictly > gap — verified on 4.1.2),
    // which the oracle's lag-cumsum sessionization mirrors.
    "q101_streaming_session" -> { (s, d) =>
      runToMemory(s, q101Plan(s, d), "graft_q101_mem")
        .select(col("user_id"),
          col("session_start").cast("double").as("session_start"),
          col("session_end").cast("double").as("session_end"),
          col("n"), col("value_sum"))
        .orderBy("user_id", "session_start")
    },
    // TRUE streaming backward as-of join (StreamingOps.streamingAsof,
    // Backward: unbounded two-sided flatMapGroupsWithState with
    // watermark-driven emission + state trim) driven to completion on
    // the bounded fixture and gated against the same DuckDB ASOF JOIN
    // oracle as batch q41.
    // With delay 0s the final watermark reaches max event time, so every
    // purchase emits exactly its batch as-of row.
    "q104_streaming_asof" -> { (s, d) =>
      assertEventTriplesUnique(s, d)
      // sentinel on the quote side: pushes the final watermark past all
      // real events (see eventsStreamWithSentinel); keyed -1, never joins
      runToMemory(s, q104Plan(s, d), "graft_q104_mem", outputMode = "append")
        .select(col("key").cast("bigint").as("user_id"),
          col("ts").cast("double").as("tsd"), col("value"),
          col("quote_ts").cast("double").as("quote_tsd"), col("quote_value"))
        .orderBy("user_id", "tsd")
    },

    // TRUE streaming FORWARD as-of (StreamingOps.streamingAsof, Forward:
    // each alpha fills at the earliest tick at-or-after it, emitted only
    // once the watermark passes the candidate). Every fill candidate is
    // at-or-before the final watermark, so the bounded run emits exactly
    // the batch forward as-of's matched rows (unfilled alphas stay in
    // state — reference backtester's carry, never emitted here).
    "q105_streaming_asof_fwd" -> { (s, d) =>
      assertEventTriplesUnique(s, d)
      // sentinel on the alpha side: pushes the final watermark past all
      // real events; an alpha with no tick at-or-after it never emits
      runToMemory(s, q105Plan(s, d), "graft_q105_mem", outputMode = "append")
        .select(col("key").cast("bigint").as("user_id"),
          col("ts").cast("double").as("tsd"), col("value"),
          col("fill_ts").cast("double").as("fill_tsd"), col("fill_value"))
        .orderBy("user_id", "tsd")
    },

    // TRUE streaming CEP (StreamingOps.streamingCep: watermarked NFA —
    // events buffer per key until the watermark passes them, then run
    // through the batch NFA's transition function in time order) driven
    // to completion on the bounded fixture and gated against q97's
    // 3-way-join oracle. The sentinel (never-matching event type)
    // pushes the final watermark past every real event so the last
    // matches ripen.
    "q128_streaming_cep" -> { (s, d) =>
      assertEventTriplesUnique(s, d)
      runToMemory(s, q128Plan(s, d), "graft_q128_mem", outputMode = "append")
        .select(col("key").cast("bigint").as("user_id"),
          col("a_t").cast("double").as("a_t"),
          col("b_t").cast("double").as("b_t"),
          col("c_t").cast("double").as("c_t"))
        .orderBy("user_id", "a_t", "b_t", "c_t")
    },

    // explain(mode="graphviz") — the one remaining spec-only §2 row.
    // The DOT text itself isn't SQL-stateable, so the gate emits
    // structural invariants of the rendered DAG for a real join+agg
    // plan (well-formed digraph, >=3 operator nodes, >=2 data-flow
    // edges, a scan leaf, every edge endpoint a defined node) as the
    // established 0/1 flag pattern (q95/q96).
    "q107_explain_dot" -> { (s, d) =>
      import s.implicits._
      val ds = new DataStream(nation(s, d))
        .join(new DataStream(region(s, d)), "n_regionkey", "r_regionkey")
        .groupby("r_name").aggSql("count(*) as n")
      val dot = ds.explainGraphviz()
      val nodes = """n\d+ \[label=""".r.findAllIn(dot).size
      val edges = "-> ".r.findAllIn(dot).size
      val defined = """(?m)^  n(\d+) \[""".r
        .findAllMatchIn(dot).map(_.group(1)).toSet
      val refs = """n(\d+) -> n(\d+)""".r.findAllMatchIn(dot)
        .flatMap(m => Seq(m.group(1), m.group(2))).toSet
      Seq((
        if (dot.startsWith("digraph plan {")) 1 else 0,
        if (nodes >= 3) 1 else 0,
        if (edges >= 2) 1 else 0,
        if (dot.contains("Scan")) 1 else 0,
        if (refs.subsetOf(defined)) 1 else 0,
        if (dot.trim.endsWith("}")) 1 else 0))
        .toDF("ok_digraph", "ok_nodes", "ok_edges", "ok_scan",
          "ok_edge_refs", "ok_closed")
    },

    // EXACT BPE token counting (functions.BpeCount codegen'd expression,
    // TextOps.bpeTokenCountExact): the real merge loop over a ranked
    // vocabulary. SQL cannot state BPE, so the oracle is the
    // hand-derived token counts for a fixed corpus × vocabulary —
    // an exact gate of the algorithm's semantics (merge order, every-
    // occurrence merging, pre-tokenizer splits, contraction suffixes).
    "q106_bpe_exact" -> { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val vocab = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
      Seq("low lower", "newer", "er er", "don't stop", "a1b22").toDF("s")
        .select(col("s"),
          graft.text.TextOps.bpeTokenCountExact(col("s"), vocab).as("n_bpe"))
        .orderBy("s")
    },

    // TRUE streaming HOPPING window (q100 gates the tumbling case of
    // StreamingOps.windowedAgg; this gates hop != size — each event in
    // two overlapping windows — against q44's lateral-hop oracle).
    "q108_streaming_hopping" -> { (s, d) =>
      runToMemory(s, q108Plan(s, d), "graft_q108_mem")
        .select(col("user_id"),
          col("window_start").cast("double").as("window_start"),
          col("n"), col("value_sum"))
        .orderBy("user_id", "window_start")
    },

    // Streaming exact dedup (StreamingOps.streamingDistinct): the
    // reference's incremental DistinctExecutor as state-store keyed
    // dropDuplicates. The source is the events stream UNIONED WITH
    // ITSELF — every (user, type, ts) triple arrives twice, so the
    // operator must actually drop state-hits (a plain fixture replay has
    // no duplicates and would gate nothing); the deduped stream lands in
    // the sink (append mode), then a batch rollup compares against the
    // single-copy oracle.
    "q109_streaming_distinct" -> { (s, d) =>
      assertEventTriplesUnique(s, d)
      runToMemory(s, q109Plan(s, d), "graft_q109_mem", outputMode = "append")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .orderBy("user_id", "event_type")
    },

    // streaming corpus maintenance: documents tagged against the
    // standing corpus as they arrive (see q148Plan).
    "q148_streaming_dedup" -> { (s, d) =>
      runToMemory(s, q148Plan(s, d), "graft_q148_mem", outputMode = "append")
        .orderBy("doc_id", "match_id")
    },

    // true stream-stream interval join (q191Plan): the batch inner join
    // with the same time-range predicate is the oracle — a bounded
    // AvailableNow run must emit exactly the batch answer.
    "q191_stream_stream_join" -> { (s, d) =>
      runToMemory(s, q191Plan(s, d), "graft_q191_mem", outputMode = "append")
        .orderBy("user_id", "p_event_id", "v_event_id")
    },

    // STREAMING UPSERT into the merge-on-read table (the write
    // direction of q202's commit stream): each micro-batch lands as
    // one keyed upsert commit with per-batch latest-wins dedup; the
    // resolved read must equal the batch latest-purchase-per-user
    // statement. Cross-batch supersede is spec-pinned (StreamingSpec).
    "q208_stream_upsert" -> { (s, d) =>
      val dir = builtStreamUpsertTable(s, d)
      graft.sources.MergeOnRead.readMerged(s, dir, "user_id")
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id")
    },

    // per-group exact lower weighted median — the value itself, never
    // an interpolated float; integer cumulative-weight rule.
    "q209_weighted_median" -> { (s, d) =>
      graft.agg.OrderStat.weightedMedian(lineitem(s, d), "l_returnflag",
        "l_quantity", "l_linenumber")
        .orderBy("l_returnflag")
    },

    // per-group exact interpolated median + MAD (robust outlier
    // location/scale): DuckDB's native median()/mad() are the literal
    // oracle — both engines pick the same two middle order statistics
    // and midpoint them with one IEEE add/divide.
    "q219_group_mad" -> { (s, d) =>
      graft.agg.OrderStat.groupMedianMad(documents(s, d), "lang",
          "n_chars")
        .orderBy("lang")
    },

    // Snapshot table as a STREAMING source (the change-data-feed
    // bridge): two append commits drained through the file stream must
    // reproduce exactly the batch HEAD content — the append-only
    // contract is require-guarded and the incremental second-drain
    // behavior is spec-pinned (SnapshotStream test in MergeOnReadSpec).
    "q202_snapshot_stream" -> { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q202_snapstream").toString
      sweepAtExit.add(dir)
      val docs = documents(s, d).select("doc_id", "lang")
      graft.sources.Snapshots.write(docs.filter(col("doc_id") % 2 === 0), dir)
      graft.sources.Snapshots.write(docs.filter(col("doc_id") % 2 === 1),
        dir, mode = "append")
      runToMemory(s, graft.sources.Snapshots.readStream(s, dir),
        "graft_q202_mem", outputMode = "append")
        .orderBy("doc_id")
    },

    // LEFT-OUTER stream-stream join (q198Plan): unmatched purchases
    // emit with a null view id once the (sentinel-pushed) watermark
    // passes them — the batch left join is the oracle.
    "q198_stream_stream_outer" -> { (s, d) =>
      runToMemory(s, q198Plan(s, d), "graft_q198_mem", outputMode = "append")
        .filter(col("user_id") >= 0) // batch-side sentinel drop (q198Plan doc)
        .orderBy("user_id", "p_event_id", "v_event_id")
    },

    // REAL image decode (multimodal.Multimodal.decodeImage — the JDK's
    // javax.imageio, zero extra dependencies): each nation key gets a
    // two-tone PNG synthesized distributed-side (left/right halves in
    // key-derived colors), then decoded distributed-side back to format,
    // true dimensions, and EXACT per-channel pixel sums. The oracle
    // states the same sums in integer arithmetic from the key alone —
    // if the decoder misreads a single pixel, the hash gate fails.
    "q110_image_decode" -> { (s, d) =>
      import s.implicits._
      val blobs = nation(s, d).select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 8 + (id % 5).toInt * 4
            val h = 6 + (id % 3).toInt * 4
            val wl = w / 2
            def c(m: Long, a: Long) = ((id * m + a) % 256).toInt
            val left = (c(7, 0) << 16) | (c(11, 0) << 8) | c(13, 0)
            val right = (c(17, 5) << 16) | (c(19, 5) << 8) | c(23, 5)
            (id, graft.multimodal.Multimodal.encodePng(w, h)(
              (x, _) => if (x < wl) left else right))
          }
        }.toDF("id", "blob")
      graft.multimodal.Multimodal.imageMeta(blobs, "id", "blob").toDF()
        .select(col("id"), col("ok").cast("int").as("ok"), col("format"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy("id")
    },

    // q48's pattern through Cep.patternRecognize over a DOUBLE time
    // axis, cast(ts AS double): q48 gates the TIMESTAMP time type and
    // this gates the numeric one (both read µs / 1e6 seconds), against
    // the same 3-way-join oracle. If the SQL predicates compile
    // differently per time type, or the payload emit reorders columns,
    // this diverges from q48's oracle and fails.
    "q111_cep_nfa_route" -> { (s, d) =>
      val ev = new OrderedStream(
        events(s, d).select(col("user_id"), col("ts").cast("double").as("tsd"),
          col("event_type"), col("value"), col("event_id")), "tsd")
      Cep.patternRecognize(ev, Seq(
          "a" -> "a.event_type = 'view'",
          "b" -> "b.event_type = 'click' and b.value > a.value",
          "c" -> "c.event_type = 'purchase'"),
          maxSpan = 86400, by = "user_id")
        .select("user_id", "a_event_id", "b_event_id", "c_event_id")
        .orderBy("user_id", "a_event_id", "b_event_id", "c_event_id")
    },

    // REAL image resize gated pixel-exactly: solid-color PNGs survive
    // bilinear scaling with the color unchanged, so the decoded resized
    // blob must show the target dims and exactly target_area × channel
    // sums — stated by the oracle in integer arithmetic from the key.
    "q112_image_resize" -> { (s, d) =>
      import s.implicits._
      val blobs = nation(s, d).select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            def c(m: Long) = ((id * m + 3) % 256).toInt
            val color = (c(7) << 16) | (c(11) << 8) | c(13)
            val w = 10 + (id % 4).toInt * 6
            val h = 8 + (id % 5).toInt * 4
            (id, graft.multimodal.Multimodal.encodePng(w, h)((_, _) => color))
          }
        }.toDF("id", "blob")
      val resized = graft.multimodal.Multimodal.imageResize(
        blobs, "id", "blob", 7, 5)
      graft.multimodal.Multimodal.imageMeta(resized, "id", "blob").toDF()
        .select(col("id"), col("ok").cast("int").as("ok"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy("id")
    },

    // Frame sampling gated byte-exactly: every 2nd 32-byte chunk of each
    // document blob — indices, offsets, lengths, and the HEX of every
    // sampled frame's bytes all stated by the oracle via hex(encode())
    // string arithmetic (round-10: byte-exact for ANY fixture content,
    // where the old md5+substr-on-characters form assumed ASCII). A
    // single off-by-one in the chunking mismatches a frame. The ASCII
    // assert stays as fixture documentation but no longer gates
    // correctness.
    "q113_frame_sample" -> { (s, d) =>
      val fs = graft.multimodal.Multimodal.frameSample(
        graft.multimodal.Multimodal.withBlob(documents(s, d), "text"),
        "doc_id", "blob", frameSize = 32, every = 2)
      fs.toDF().select(col("id").as("doc_id"), col("frame_idx"),
        col("offset"),
        hex(col("frame_bytes")).as("digest"),
        length(col("frame_bytes")).cast("bigint").as("frame_len"))
        .orderBy("doc_id", "frame_idx")
    },

    // REAL audio decode (multimodal.Multimodal.decodeAudio — the JDK's
    // javax.sound.sampled, zero extra dependencies, round-8's imageio
    // play repeated for WAV/PCM): each nation key gets a synthesized
    // PCM16 WAV (key-derived rate/channels/length and a key-derived
    // sample ramp), decoded distributed-side back to format, rate,
    // channels, frame count, duration, and EXACT integer sample sums
    // (total + channel 0). Two corrupt classes stay flagged rows, never
    // dropped: garbage bytes (id%10==4) and a TRUNCATED RIFF whose
    // header declares more frames than the payload carries (id%10==9).
    // The oracle states every sum in integer arithmetic from the key —
    // one misread sample and the hash gate fails.
    "q114_audio_decode" -> { (s, d) =>
      import s.implicits._
      val blobs = nation(s, d).select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val blob =
              if (id % 10 == 4) // not a RIFF at all
                Array.tabulate[Byte](32)(i => ((id * 31 + i * 7) % 251).toByte)
              else if (id % 10 == 9) { // valid header, truncated payload
                val full = graft.multimodal.Multimodal.encodeWavPcm16(
                  8000, 1, 100)((_, i) => i.toShort)
                java.util.Arrays.copyOfRange(full, 0, 60)
              } else {
                val ch = 1 + (id % 2).toInt
                val nf = 50 + (id % 7).toInt * 10
                graft.multimodal.Multimodal.encodeWavPcm16(8000, ch, nf)(
                  (c, i) => (((id * 13 + c * 7 + i * 3) % 2001) - 1000).toShort)
              }
            (id, blob)
          }
        }.toDF("id", "blob")
      graft.multimodal.Multimodal.audioMeta(blobs, "id", "blob").toDF()
        .select(col("id"), col("ok").cast("int").as("ok"), col("format"),
          col("sample_rate").cast("bigint").as("sample_rate"),
          col("channels").cast("bigint").as("channels"),
          col("bits").cast("bigint").as("bits"),
          col("n_frames"), col("duration_ms"), col("amp_sum"), col("ch0_sum"))
        .orderBy("id")
    },

    // Snapshot / time-travel reads (sources.Snapshots — the parquet-
    // manifest cover for read_iceberg's capability, since no iceberg jar
    // exists in this container): commit v1 = full region, v2 = OVERWRITE
    // with keys < 3, v3 = APPEND keys >= 3 back. Reading each pinned
    // snapshot id (and HEAD, which must equal v3) must reproduce exactly
    // the row set each commit made visible — stated by the oracle from
    // the region table directly. Time travel failing (e.g. v2's read
    // seeing v3's appended files) breaks the per-snapshot sums.
    "q115_snapshot_timetravel" -> { (s, d) =>
      import s.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q115_snapshots").toString
      sweepAtExit.add(dir)
      val qc = new QContext(s)
      val region = Tables.region(s, d)
        .select(col("r_regionkey").cast("long").as("k"))
      qc.writeSnapshot(new DataStream(region), dir)
      qc.writeSnapshot(new DataStream(region.filter(col("k") < 3)), dir,
        mode = "overwrite")
      qc.writeSnapshot(new DataStream(region.filter(col("k") >= 3)), dir,
        mode = "append")
      def stat(snap: Long, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"))
          .select(lit(snap).as("snap"), col("n_rows"), col("key_sum"))
      stat(1, qc.readSnapshot(dir, Some(1L)).df)
        .unionByName(stat(2, qc.readSnapshot(dir, Some(2L)).df))
        .unionByName(stat(3, qc.readSnapshot(dir, Some(3L)).df))
        .unionByName(stat(4, qc.readSnapshot(dir).df)) // HEAD == v3
        .orderBy("snap")
    },

    // ADD-COLUMN schema evolution over the snapshot layer: v1 commits
    // (doc_id, lang) for the even half, v2 APPENDS (doc_id, lang,
    // n_chars) for the odd half — a merged-schema HEAD read must
    // surface n_chars as null exactly on the pre-evolution rows (the
    // Iceberg/Delta add-column read semantics), and the strict default
    // must refuse the skewed table loudly (spec-pinned).
    // snapshot EXPIRATION (vacuum): v1/v2 overwrites + v3 append, then
    // expire to the last two snapshots — v1's manifest AND its now-
    // unreferenced data dir must be physically gone, v2 must stay
    // time-travelable (v3 appends onto it), the resolved HEAD must be
    // untouched. Flags computed engine-side from the real filesystem +
    // reads; the oracle states them as 1s plus the surviving content.
    "q217_snapshot_expire" -> { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q217_expire").toString
      sweepAtExit.add(dir)
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
      graft.sources.Snapshots.write(docs.filter(col("doc_id") % 3 === 0), dir)
      graft.sources.Snapshots.write(docs.filter(col("doc_id") % 3 === 1), dir)
      graft.sources.Snapshots.write(docs.filter(col("doc_id") % 3 === 2),
        dir, mode = "append")
      val (nManifests, nDirs) = graft.sources.Snapshots.expire(dir, 2)
      val root = java.nio.file.Paths.get(dir)
      val gone =
        !java.nio.file.Files.exists(root.resolve("manifests/v1.json")) &&
        !java.nio.file.Files.exists(root.resolve("data/v1"))
      val travelOk = graft.sources.Snapshots.read(s, dir, Some(2L))
        .count() == docs.filter(col("doc_id") % 3 === 1).count()
      val belowLoud = scala.util.Try(
        graft.sources.Snapshots.read(s, dir, Some(1L))).isFailure
      graft.sources.Snapshots.read(s, dir)
        .withColumn("ok_expired",
          lit(nManifests == 1 && nDirs == 1 && gone).cast("long"))
        .withColumn("ok_travel", lit(travelOk).cast("long"))
        .withColumn("ok_below_loud", lit(belowLoud).cast("long"))
        .orderBy("doc_id")
    },

    "q197_schema_evolution" -> { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q197_evolve").toString
      sweepAtExit.add(dir)
      val docs = documents(s, d)
      graft.sources.Snapshots.write(
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang"), dir)
      graft.sources.Snapshots.write(
        docs.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "lang", "n_chars"),
        dir, mode = "append")
      graft.sources.Snapshots.read(s, dir, mergeSchema = true)
        .orderBy("doc_id")
    },

    // MERGE-ON-READ keyed upsert/delete (MergeOnRead over the snapshot
    // layout): v1 = corpus base (%3<>0), v2 = UPSERT the %5==0 batch
    // with edited text (overlapping keys supersede, new keys insert),
    // v3 = DELETE the %7==0 keys (incl. no-op tombstones for keys never
    // present). The resolved HEAD must equal the oracle's direct
    // statement of those semantics — a wrong latest-wins order, a
    // leaked tombstone, or a lost insert changes the hash.
    "q150_merge_on_read" -> { (s, d) =>
      val dir = buildMorTable(s, d)
      graft.sources.MergeOnRead.readMerged(s, dir, "doc_id")
        .select(col("doc_id"), col("lang"),
          md5(col("text").cast("binary")).as("txt_md5"))
        .orderBy("doc_id")
    },

    // snapshot diff of the same table's RESOLVED states v1 -> v3:
    // added (new %5 keys that survived the delete), removed (base keys
    // the delete hit), changed (base %5 keys whose text was edited);
    // content-identical keys must NOT appear.
    "q151_snapshot_diff" -> { (s, d) =>
      val dir = buildMorTable(s, d)
      graft.sources.MergeOnRead.diff(s, dir, "doc_id", 1L, 3L)
        .orderBy("doc_id")
    },

    // REAL video decode (multimodal.Multimodal.decodeVideo — Y4M /
    // YUV4MPEG2 is raw planar YUV behind text headers, so frame-walking
    // it needs zero codec dependencies; q110/q114's play repeated for
    // video): each nation key gets a synthesized Y4M clip (key-derived
    // even dimensions, frame count, and a key-derived luma ramp),
    // decoded distributed-side back to dimensions, exact fps rational,
    // frame count, and EXACT integer luma sums (all frames + frame 0).
    // Two corrupt classes stay flagged rows, never dropped: garbage
    // bytes (id%10==4) and a stream TRUNCATED mid-frame (id%10==9).
    // The oracle states every luma sum in integer arithmetic from the
    // key — one misread pixel or a frame-boundary off-by-one fails the
    // hash gate.
    "q116_video_decode" -> { (s, d) =>
      import s.implicits._
      val blobs = nation(s, d).select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val blob =
              if (id % 10 == 4) // not Y4M at all
                Array.tabulate[Byte](40)(i => ((id * 37 + i * 11) % 249).toByte)
              else if (id % 10 == 9) { // valid header, cut mid-frame
                val full = graft.multimodal.Multimodal.encodeY4m(
                  8, 6, 25, 1, 3)((f, p) => (f + p) % 256)
                java.util.Arrays.copyOfRange(full, 0, full.length - 10)
              } else {
                val w = 8 + (id % 3).toInt * 4
                val h = 6 + (id % 2).toInt * 4
                val nf = 3 + (id % 5).toInt
                graft.multimodal.Multimodal.encodeY4m(w, h, 25, 1, nf)(
                  (f, p) => ((id * 7 + f * 11 + p * 3) % 256).toInt)
              }
            (id, blob)
          }
        }.toDF("id", "blob")
      graft.multimodal.Multimodal.videoMeta(blobs, "id", "blob").toDF()
        .select(col("id"), col("ok").cast("int").as("ok"), col("format"),
          col("width"), col("height"), col("fps_num"), col("fps_den"),
          col("n_frames"), col("y_sum"), col("y0_sum"))
        .orderBy("id")
    },

    // REAL video frame sampling (multimodal.Multimodal.videoFrames —
    // the decoded upgrade of q113's byte-chunk sampling): every 2nd
    // DECODED frame of each valid Y4M clip as one row with its exact
    // luma sum; corrupt clips contribute no rows (q116 carries their
    // ok=0 accounting). Same key-derived fixture as q116, so the oracle
    // states each sampled frame's sum per (id, frame_idx).
    // Video SCENE-CUT detection over REAL Y4M decode: the q117 fixture
    // (incl. both corrupt classes, which must contribute zero rows)
    // frame-walked to per-frame luma sums, adjacent diffs flagged at
    // the integer |Δ| ≥ 8·(w·h) bound — the shot-boundary step before
    // clip splitting / frame sampling in a video-curation pipeline.
    "q210_scene_cuts" -> { (s, d) =>
      import s.implicits._
      val blobs = nation(s, d).select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val blob =
              if (id % 10 == 4)
                Array.tabulate[Byte](40)(i => ((id * 37 + i * 11) % 249).toByte)
              else if (id % 10 == 9) {
                val full = graft.multimodal.Multimodal.encodeY4m(
                  8, 6, 25, 1, 3)((f, p) => (f + p) % 256)
                java.util.Arrays.copyOfRange(full, 0, full.length - 10)
              } else {
                val w = 8 + (id % 3).toInt * 4
                val h = 6 + (id % 2).toInt * 4
                val nf = 3 + (id % 5).toInt
                graft.multimodal.Multimodal.encodeY4m(w, h, 25, 1, nf)(
                  (f, p) => ((id * 7 + f * 11 + p * 3) % 256).toInt)
              }
            (id, blob)
          }
        }.toDF("id", "blob")
      graft.multimodal.Multimodal.sceneCuts(blobs, "id", "blob",
          tauPerPixel = 8)
        .orderBy("id", "frame_idx")
    },

    "q117_video_frames" -> { (s, d) =>
      import s.implicits._
      val blobs = nation(s, d).select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val blob =
              if (id % 10 == 4)
                Array.tabulate[Byte](40)(i => ((id * 37 + i * 11) % 249).toByte)
              else if (id % 10 == 9) {
                val full = graft.multimodal.Multimodal.encodeY4m(
                  8, 6, 25, 1, 3)((f, p) => (f + p) % 256)
                java.util.Arrays.copyOfRange(full, 0, full.length - 10)
              } else {
                val w = 8 + (id % 3).toInt * 4
                val h = 6 + (id % 2).toInt * 4
                val nf = 3 + (id % 5).toInt
                graft.multimodal.Multimodal.encodeY4m(w, h, 25, 1, nf)(
                  (f, p) => ((id * 7 + f * 11 + p * 3) % 256).toInt)
              }
            (id, blob)
          }
        }.toDF("id", "blob")
      graft.multimodal.Multimodal.videoFrames(blobs, "id", "blob", every = 2)
        .toDF()
        .select(col("id"), col("frame_idx"), col("y_sum"))
        .orderBy("id", "frame_idx")
    },

    // Image perceptual-hash near-dup (round-10 — completes multimodal
    // dedup): REAL dHash over REAL decoded pixels (Multimodal.dHash64),
    // gated hash-exactly. Each doc gets a synthesized grayscale PNG
    // whose dHash is a pure integer function of the id: group g = id/5
    // shares a base 64-bit pattern (8 key-derived bytes), variant
    // j = id%5 flips j NESTED bits (bit 8k + g%8 for k < j), so within-
    // group hamming distances are exactly |j1 − j2|; the gray cells walk
    // +16 per set bit, so the decode→luma→downsample→compare pipeline
    // must reproduce every planted bit. Three image scales (9×8, 18×16,
    // 27×24 — s = 1 + g%3) exercise both the identity and the
    // block-average downsample paths; id%10==7 rows are garbage bytes
    // kept as flagged rows. The oracle states the full 64-bit hash in
    // BIGINT arithmetic — one misread pixel or downsample off-by-one
    // flips a bit and fails the hash gate.
    "q134_image_phash" -> { (s, d) =>
      graft.multimodal.Multimodal.imagePHash(phashBlobs(s, d), "doc_id", "blob")
        .select(col("doc_id"), col("ok").cast("int").as("ok"), col("phash"))
        .orderBy("doc_id")
    },

    // The hamming-LSH banding pipeline over those hashes
    // (Dedup.hammingNearDupPairs): 4×16-bit bands, bucket-join, confirm
    // hamming ≤ 2. Banding is LOSSLESS at this threshold (pigeonhole:
    // ≤ 2 flipped bits leave ≥ 2 of 4 bands untouched), so the oracle
    // can state the result as the brute-force pair set — every within-
    // group pair with |j1 − j2| ≤ 2 (minus corrupt rows), plus any
    // accidental cross-group collision BOTH engines would count.
    "q135_image_neardup" -> { (s, d) =>
      val ph = graft.multimodal.Multimodal
        .imagePHash(phashBlobs(s, d), "doc_id", "blob")
        .where(col("ok"))
      graft.dedup.Dedup.hammingNearDupPairs(ph, "doc_id", "phash",
          maxHamming = 2, numBands = 4)
        .orderBy("id_1", "id_2")
    },

    // Audio fingerprint (round-10, q134's audio twin): REAL PCM decode →
    // 65-block energy envelope → 64 strict-mean bits, gated hash-exactly
    // against the planted-hash oracle. 1- and 2-channel WAVs at three
    // frame counts; id%10==3 rows are garbage bytes kept flagged.
    "q136_audio_phash" -> { (s, d) =>
      graft.multimodal.Multimodal.audioPHash(audioPhashBlobs(s, d),
          "doc_id", "blob")
        .select(col("doc_id"), col("ok").cast("int").as("ok"), col("phash"))
        .orderBy("doc_id")
    },

    // Temporal video fingerprint (round-10): REAL Y4M frame walk →
    // 65-group brightness envelope → 64 strict-mean bits, gated
    // hash-exactly. Three frame counts; id%10==6 rows garbage.
    "q137_video_phash" -> { (s, d) =>
      graft.multimodal.Multimodal.videoPHash(videoPhashBlobs(s, d),
          "doc_id", "blob")
        .select(col("doc_id"), col("ok").cast("int").as("ok"), col("phash"))
        .orderBy("doc_id")
    },

    // Audio near-dup through the SAME hamming band-join operator as
    // image q135 — the fingerprint family composes with the shared
    // similarity machinery across modalities. Lossless banding at
    // maxHamming=2 < 4 bands ⇒ brute-force oracle.
    "q138_audio_neardup" -> { (s, d) =>
      val ph = graft.multimodal.Multimodal
        .audioPHash(audioPhashBlobs(s, d), "doc_id", "blob")
        .where(col("ok"))
      graft.dedup.Dedup.hammingNearDupPairs(ph, "doc_id", "phash",
          maxHamming = 2, numBands = 4)
        .orderBy("id_1", "id_2")
    },

    // End-to-end multimodal dedup (round-10): phash pairs → pointer-
    // jumping connected components → canonical keeper per image family,
    // the image twin of q121's text pipeline. Within a fixture group
    // the variants chain 0-1-2-3-4 through hamming-≤2 edges, so the
    // closure must collapse multi-hop families (j=0 and j=4 are 4 bits
    // apart — per-pair tagging cannot cluster them); the recursive-CTE
    // oracle states the exact fixpoint. Corrupt rows carry no hash and
    // stay out, mirrored by the oracle's residue filter.
    "q139_image_clusters" -> { (s, d) =>
      // checkpoint the decode ONCE (the q127 diamond rationale): the
      // hash relation feeds both the pair generator and the node/label
      // side of the CC iteration — lazily, the synthesize+decode scan
      // (the expensive stage) would re-run per consumer and again for
      // round-1 jobs of the loop
      val ph = graft.multimodal.Multimodal
        .imagePHash(phashBlobs(s, d), "doc_id", "blob")
        .where(col("ok"))
        .localCheckpoint(true)
      val pairs = graft.dedup.Dedup.hammingNearDupPairs(ph, "doc_id",
        "phash", maxHamming = 2, numBands = 4)
      graft.dedup.Clusters.connectedComponents(pairs, "id_1", "id_2",
          ph.select(col("doc_id")), "doc_id")
        .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
        .orderBy("doc_id")
    },

    // batch UDF/UDTF surface (DataStream.transform): a mapPartitions
    // row function whose effect — per-document token count and a 1→N
    // fan-out flag row per long doc (the UDTF half) — SQL can state.
    "q102_transform" -> { (s, d) =>
      val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING)
      new DataStream(documents(s, d).select(col("doc_id"), col("text")))
        .transform { it =>
          it.flatMap { r =>
            val id = r.getLong(0)
            val toks = r.getString(1).split("\\s+").count(_.nonEmpty).toLong
            val base = Iterator.single((id, toks, "doc"))
            if (toks > 50) base ++ Iterator.single((id, toks, "long"))
            else base
          }
        }(enc)
        .toDF("doc_id", "n_toks", "tag")
        .orderBy("doc_id", "tag")
    },

    // per-batch SQL (DataStream.transformSql, both projection and
    // grouped-agg forms) — the reference's partial-agg building block.
    "q103_transform_sql" -> { (s, d) =>
      new DataStream(documents(s, d))
        .transformSql(Seq("lang", "length(text) as text_len"))
        .transformSql(Seq("count(*) as n_docs",
          "cast(sum(text_len) as bigint) as total_len"),
          groupBy = Seq("lang"))
        .sort(Seq("lang")).df
    },

    // salted skew join (DataStream.saltedJoin): equality to the plain
    // join, stated by the oracle as the plain join itself.
    "q93_salted_join" -> { (s, d) =>
      val o = new DataStream(orders(s, d).select(col("o_custkey"),
        col("o_totalprice")))
      val c = new DataStream(customer(s, d).select(col("c_custkey"),
        col("c_mktsegment")))
      o.saltedJoin(c, "o_custkey", "c_custkey", salt = 8)
        .groupby("c_mktsegment")
        .aggSql("count(*) as n", s"${Det.dsumSparkSql("o_totalprice")} as total")
        .sort(Seq("c_mktsegment")).df
    },

    // two-stage salted aggregation (GroupedDataStream.aggSalted):
    // decomposable ops re-combined across the salt must equal the plain
    // grouped aggregate (sums here are of integral quantities — exact).
    "q94_salted_agg" -> { (s, d) =>
      new DataStream(lineitem(s, d))
        .groupby("l_returnflag")
        .aggSalted(Map("l_quantity" -> "sum", "l_extendedprice" -> "max",
          "*" -> "count"), salt = 8)
        .sort(Seq("l_returnflag")).df
    },

    // bounded-state per-key top-k (udx.Aggregators.TopKByScore): the
    // skew-proof Aggregator form of "best k rows per group" — state
    // capped at k per partial, so a hot group costs k rows per
    // partition instead of one task sorting the whole group. Gated
    // against the window-rank oracle it replaces (same injective
    // (score desc, id asc) order, so the sets are identical).
    "q195_topk_aggregator" -> { (s, d) =>
      Aggregators.topKPerKey(orders(s, d), Seq("o_orderpriority"),
        "o_totalprice", "o_orderkey", k = 3)
        .orderBy("o_orderpriority", "rank")
    },

    // custom typed Aggregator (udx.Aggregators.WelfordMeanVar): the
    // merged Welford state must agree with exact integer moments to
    // float precision — emitted as 0/1 flags the oracle states.
    "q95_welford_udaf" -> { (s, d) =>
      val li = lineitem(s, d)
      import s.implicits._
      // the typed select flattens MeanVar to (mean, variance, n) columns
      val mv = li.select(col("l_quantity").cast("double")).as[Double]
        .select(Aggregators.WelfordMeanVar.toColumn.name("mv")).toDF()
      val n = count(lit(1)).cast("double")
      val sx = sum(col("l_quantity"))
      val sxx = sum(col("l_quantity") * col("l_quantity"))
      val exact = li.agg(
        (sx / n).as("em"),
        ((n * sxx - sx * sx) / (n * n)).as("ev"),
        count(lit(1)).as("en"))
      mv.crossJoin(broadcast(exact)).select(
        (abs(col("mean") - col("em")) <= lit(1e-9)).cast("int").as("ok_mean"),
        (abs(col("variance") - col("ev")) <= lit(1e-6)).cast("int").as("ok_var"),
        (col("n") === col("en")).cast("int").as("ok_n"))
    },

    // merging t-digest sketch (agg.TDigestQuantiles): rank bound-flags,
    // the q54 pattern — any valid sketch at compression 100 keeps every
    // achieved rank within 2e-2 of the target.
    "q96_tdigest" -> { (s, d) =>
      val li = lineitem(s, d)
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val qs = new DataStream(li).tdigestQuantile("l_extendedprice", ps, 100).df
      // the typed select flattens QuantileValues to a `values` column
      def ok(i: Int, p: Double) =
        cdfFlag(col("l_extendedprice"), element_at(col("values"), i + 1),
          p, 0.02, s"ok_q${(p * 100).toInt}")
      li.join(broadcast(qs))
        .agg(ok(0, 0.25), ok(1, 0.5), ok(2, 0.75), ok(3, 0.95))
    },

    // Extreme-width quantiles (agg.WideQuantiles, r15): the
    // mapPartitions t-digest-array path that replaces the
    // expression-tier sketch past ~1k columns (the reference's 1M×10k
    // winsorization headline — see BASELINE_MEASURED.md for the
    // measured OOM of both stock approxQuantile and a 10k-wide
    // percentile_approx tree). Gate = q96's CDF rank-bound flags over
    // two columns: continuous l_extendedprice at ±0.02 and discrete
    // l_quantity at ±0.05 (50 atoms of ~2% mass each — the CDF jumps
    // by an atom at the readout value, so the band is atom + sketch
    // error). Width itself is stress-tested in WideQuantilesSpec and
    // the baseline harness; this pins end-to-end accuracy on the
    // driver fixture.
    "q245_wide_quantiles" -> { (s, d) =>
      val li = lineitem(s, d)
      val ps = Seq(0.1, 0.5, 0.9)
      val qs = new DataStream(li).approximateQuantileWide(
        Seq("l_extendedprice", "l_quantity"), ps).df
      def ok(c: String, tol: Double)(i: Int) =
        cdfFlag(col(c), element_at(col(s"${c}_quantiles"), i + 1), ps(i),
          tol, s"ok_${c.stripPrefix("l_")}_q${(ps(i) * 100).toInt}")
      val okE = ok("l_extendedprice", 0.02) _
      val okQ = ok("l_quantity", 0.05) _
      li.join(broadcast(qs))
        .agg(okE(0), okE(1), okE(2), okQ(0), okQ(1), okQ(2))
    },

    // Winsorize composition (r16, verdict item 6): ONE API hop from
    // the wide t-digest pass to clip (DataStream.winsorize), gated
    // end-to-end with a covariance readout — the reference's blog
    // pipeline (approxquant.md: quantiles → clip → covariance) as a
    // single query. Flags: (a) the clipped extremes ARE the sketch
    // bounds, pinned by the q245 CDF rank band against the ORIGINAL
    // column (continuous l_extendedprice ±0.02, discrete l_quantity
    // ±0.05); (b) winsorizing strictly reduces covar_pop variance per
    // column (≥8% of mass sits beyond each bound — far beyond sketch
    // error); (c) the clipped quantity–extendedprice covariance stays
    // positive (extendedprice is quantity × part price — structural).
    "q247_winsorize_cov" -> { (s, d) =>
      val li = lineitem(s, d)
      val cs = Seq("l_extendedprice", "l_quantity", "l_discount")
      def cast3(df: DataFrame) =
        df.select(cs.map(c => col(c).cast("double")): _*)
      val clipped = new DataStream(cast3(li)).winsorize(cs, 0.1, 0.9).df
      val mm = clipped.agg(
        min("l_extendedprice").as("lo_e"), max("l_extendedprice").as("hi_e"),
        min("l_quantity").as("lo_q"), max("l_quantity").as("hi_q"))
      val covC = graft.vector.VectorOps.covariance(clipped, cs)
      val covR = graft.vector.VectorOps.covariance(cast3(li), cs)
        .select(col("c_0_0").as("r_0_0"), col("c_1_1").as("r_1_1"),
          col("c_2_2").as("r_2_2"))
      li.join(broadcast(mm)).join(broadcast(covC)).join(broadcast(covR))
        .agg(
          cdfFlag(col("l_extendedprice"), col("lo_e"), 0.1, 0.02, "ok_lo_e"),
          cdfFlag(col("l_extendedprice"), col("hi_e"), 0.9, 0.02, "ok_hi_e"),
          cdfFlag(col("l_quantity"), col("lo_q"), 0.1, 0.05, "ok_lo_q"),
          cdfFlag(col("l_quantity"), col("hi_q"), 0.9, 0.05, "ok_hi_q"),
          (min(col("c_0_0")) < min(col("r_0_0"))).cast("int").as("ok_var_e"),
          (min(col("c_1_1")) < min(col("r_1_1"))).cast("int").as("ok_var_q"),
          (min(col("c_2_2")) < min(col("r_2_2"))).cast("int").as("ok_var_d"),
          (min(col("c_0_1")) > 0.0).cast("int").as("ok_cov_eq_pos"))
    },

    // End-to-end MULTIMODAL pipeline (r16, verdict item 4 — the image
    // twin of q244's text composition): decode → pHash → hamming
    // band-join → connected components → quality-ranked canonical
    // keeper → caption-text join, as ONE oracle-gated query. The
    // expensive stage (PNG synthesize + real decode + dHash) is
    // localCheckpoint'd ONCE and fans out to the pair generator, the
    // CC node list — and, post-closure, the keeper-quality join; a
    // lost checkpoint re-decodes every image per consumer and per CC
    // round (the q139 diamond rationale, now with a third consumer).
    // Readout is per CLUSTER: the keeper (highest caption length, then
    // lowest id — the curation "keep best caption" rule), member
    // count, and total caption mass, so the gate fails if any stage —
    // decode, banding, closure, ranking, or the text join — drifts.
    "q248_multimodal_pipeline" -> { (s, d) =>
      val ph = graft.multimodal.Multimodal
        .imagePHash(phashBlobs(s, d), "doc_id", "blob")
        .where(col("ok"))
        .localCheckpoint(true)
      val pairs = graft.dedup.Dedup.hammingNearDupPairs(ph, "doc_id",
        "phash", maxHamming = 2, numBands = 4)
      val cc = graft.dedup.Clusters.connectedComponents(pairs, "id_1",
        "id_2", ph.select(col("doc_id")), "doc_id")
      val caps = documents(s, d).select(col("doc_id"),
        length(col("text")).cast("long").as("cap_len"))
      val members = cc.join(caps, Seq("doc_id"))
      val kept = graft.dedup.Clusters.keepBestPerCluster(members,
        "doc_id", "cluster_id", "cap_len")
      kept.groupBy(col("cluster_id"))
        .agg(
          min(col("keeper_id")).as("keeper_id"), // constant per cluster
          min(col("n_members")).as("n_members"),
          max(when(col("is_keeper"), col("cap_len"))).as("keeper_cap_len"),
          sum(col("cap_len")).as("sum_cap_len"))
        .orderBy("cluster_id")
    },

    // PER-GROUP t-digest quantiles (q96's rank-bound gate, grouped):
    // one mergeable sketch per l_returnflag, each estimate pinned by
    // the per-group CDF check |F(q_p) − p| ≤ 0.05 engine-side; the
    // oracle states the flags as literal 1s per group.
    "q222_group_tdigest" -> { (s, d) =>
      val li = lineitem(s, d)
      val ps = Seq(0.25, 0.5, 0.75)
      val qs = new DataStream(li)
        .tdigestQuantileBy("l_returnflag", "l_extendedprice", ps, 100).df
      def ok(i: Int, p: Double) =
        (abs(sum(when(col("l_extendedprice") <= element_at(col("values"),
          i + 1), 1L).otherwise(0L)).cast("double") / count(lit(1)) - lit(p))
          <= lit(0.05)).cast("int").as(s"ok_q${(p * 100).toInt}")
      li.join(qs, "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(ok(0, 0.25), ok(1, 0.5), ok(2, 0.75))
        .orderBy("l_returnflag")
    },

    // NFA CEP formulation (ts.Cep.nfaPatternRecognize) on the q48
    // pattern; the oracle is the 3-way-join statement of the same
    // semantics, so the linear scan is gated against SQL directly.
    "q97_nfa_cep" -> { (s, d) =>
      val ev = events(s, d)
        .select(col("user_id"), col("ts").cast("double").as("tsd"),
          col("event_type"), col("value"))
      Cep.nfaPatternRecognize(new OrderedStream(ev, "tsd"), Seq(
          ("a", (r: Row) => r.getString(2) == "view",
            (_: Row, _: Map[String, Row]) => true),
          ("b", (r: Row) => r.getString(2) == "click",
            (r: Row, ctx: Map[String, Row]) =>
              r.getDouble(3) > ctx("a").getDouble(3)),
          ("c", (r: Row) => r.getString(2) == "purchase",
            (_: Row, _: Map[String, Row]) => true)),
          maxSpan = 86400, by = "user_id")
        .orderBy("user_id", "a_t", "b_t", "c_t")
    },

    // sorted-CSV source (QContext.readSortedCsv) + ordered shift over
    // the roundtripped stream: CSV fidelity and the sortedness contract
    // both gate against the lag() oracle on the source table.
    "q98_sorted_csv" -> { (s, d) =>
      // per-construction unique dir: a fixed path races between
      // concurrent catalog builders (spec suite vs Verify at another SF)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q98_sorted_csv").toString
      sweepAtExit.add(tmp)
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("ts").cast("double").as("tsd"), col("value"))
      new DataStream(ev.orderBy(col("tsd"))).writeCsv(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("tsd", DoubleType), StructField("value", DoubleType)))
      new QContext(s).readSortedCsv(tmp, "tsd", Some(schema))
        .shift(Seq("value"), 1, by = "user_id", tieBreak = Seq("event_id"))
        .select("event_id", "user_id", "tsd", "value", "value_shifted")
        .sort(Seq("event_id")).df
    },

    // N-input stateful operator (QContext.mingle): purchases and views
    // as two tagged sources, per-user stream counts plus first/last
    // stream by time. The oracle's two-step min/max-at-the-extreme-ts
    // form states mingle's (ts, __stream) tie order exactly, so the
    // gate is valid on any fixture (round-10 tie-proofing).
    "q99_mingle" -> { (s, d) =>
      val ev = events(s, d).withColumn("tsd", col("ts").cast("double"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsd"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tsd"))
      implicit val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaInt)
      new QContext(s).mingle[(Long, Long, Long, Int, Int)](
        Map(1 -> purch, 2 -> views), Seq("user_id"), Seq("tsd")) { it =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Int, Int)]
        var cur = Long.MinValue
        var n1 = 0L; var n2 = 0L; var first = 0; var last = 0
        def flush(): Unit =
          if (n1 + n2 > 0) out += ((cur, n1, n2, first, last))
        it.foreach { case (sid, r) =>
          val u = r.get(0).asInstanceOf[Number].longValue
          if (u != cur) { flush(); cur = u; n1 = 0; n2 = 0; first = sid }
          if (sid == 1) n1 += 1 else n2 += 1
          last = sid
        }
        flush()
        out.iterator
      }.toDF("user_id", "n_purchase", "n_view", "first_stream", "last_stream")
        .orderBy("user_id")
    }
  )

  /** [[plantedHash]] as DuckDB BIGINT arithmetic: little-endian byte
    * assembly XOR the nested variant mask. All terms stay under 2^63
    * (byte 7 is mod 128). One instance per modality fixture family. */
  private def plantedHashSql(mult: Int => Int): String = {
    val baseTerms = (0 until 8).map { y =>
      val m = if (y == 7) 128 else 256
      s"((g * ${mult(y)} + (g // 256) * ${mult(y) + 17} + " +
        s"(g // 65536) * ${mult(y) + 29} + $y) % $m) * ${1L << (8 * y)}"
    }.mkString(" + ")
    val maskTerms = (0 until 4).map { k =>
      s"CASE WHEN j > $k THEN (CAST(1 AS BIGINT) << " +
        s"CAST(${8 * k} + g % 8 AS INTEGER)) ELSE 0 END"
    }.mkString(" + ")
    s"xor($baseTerms, $maskTerms)"
  }
  private val phashSqlExpr: String = plantedHashSql(imageMult)

  /** Shared oracle shapes for the three modality hash gates and the
    * near-dup pair gates: the hash column from id arithmetic alone. */
  private def phashOracle(expr: String, corruptResidue: Int): String =
    s"""WITH p AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS j
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 10 = $corruptResidue THEN 0 ELSE 1 END AS ok,
       |  CASE WHEN doc_id % 10 = $corruptResidue THEN NULL
       |    ELSE $expr END AS phash
       |FROM p ORDER BY doc_id""".stripMargin
  private def neardupOracle(expr: String, corruptResidue: Int): String =
    s"""WITH p AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS j
       |  FROM documents WHERE doc_id % 10 <> $corruptResidue),
       |h AS (SELECT doc_id, $expr AS phash FROM p)
       |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 2
       |ORDER BY id_1, id_2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q134_image_phash" -> phashOracle(phashSqlExpr, 7),
    // banding at maxHamming=2 < 4 bands is lossless (pigeonhole), so
    // the oracle is the brute-force hamming join over the same hashes
    "q135_image_neardup" -> neardupOracle(phashSqlExpr, 7),
    // min-label reachability over the hamming-≤2 pair graph as a
    // recursive closure — the exact fixpoint the pointer-jumping Spark
    // iteration converges to (q121's oracle pattern on image hashes)
    "q139_image_clusters" ->
      s"""WITH RECURSIVE p AS (SELECT doc_id, doc_id // 5 AS g,
         |    doc_id % 5 AS j
         |  FROM documents WHERE doc_id % 10 <> 7),
         |h AS (SELECT doc_id, $phashSqlExpr AS phash FROM p),
         |conf AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM h a JOIN h b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 2),
         |sym AS (SELECT id_1 AS a, id_2 AS b FROM conf
         |  UNION ALL SELECT id_2, id_1 FROM conf),
         |reach(v, r) AS (
         |  SELECT doc_id, doc_id FROM h
         |  UNION
         |  SELECT reach.v, sym.b FROM reach JOIN sym ON reach.r = sym.a)
         |SELECT v AS doc_id, min(r) AS cluster_id,
         |  (v <> min(r)) AS is_dup
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    "q136_audio_phash" -> phashOracle(plantedHashSql(audioMult), 3),
    "q137_video_phash" -> phashOracle(plantedHashSql(videoMult), 6),
    "q138_audio_neardup" -> neardupOracle(plantedHashSql(audioMult), 3),
    "q100_streaming_tumbling" ->
      s"""SELECT user_id,
        |  floor(epoch(ts) / 86400) * 86400 AS window_start,
        |  count(*) AS n, ${Det.dsumSql("value")} AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY user_id, window_start""".stripMargin,

    // per-day windowed counts restated in batch SQL + the q233 grid
    // rational with the day as the group.
    "q243_streaming_drift" ->
      """WITH r AS (SELECT floor(epoch(ts) / 86400) * 86400 AS g,
        |    event_type AS c
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |gc AS (SELECT g, c, CAST(count(*) AS BIGINT) AS a
        |  FROM r GROUP BY 1, 2),
        |cats AS (SELECT c, CAST(count(*) AS BIGINT) AS nc FROM r GROUP BY 1),
        |gs AS (SELECT g, CAST(count(*) AS BIGINT) AS ng FROM r GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |grid AS (SELECT gs.g, gs.ng, cats.c, cats.nc,
        |    coalesce(gc.a, 0) AS a, (SELECT n FROM tot) - gs.ng AS rest
        |  FROM gs CROSS JOIN cats LEFT JOIN gc USING (g, c))
        |SELECT g AS window_start, c AS event_type, a AS n_in,
        |  nc - a AS n_rest,
        |  CASE WHEN nc = 0 OR ng = 0 OR rest = 0 THEN 0.0 ELSE
        |    ((a::HUGEINT * rest::HUGEINT - (nc - a)::HUGEINT * ng::HUGEINT)
        |     * (a::HUGEINT * rest::HUGEINT - (nc - a)::HUGEINT * ng::HUGEINT)
        |    )::DOUBLE / (ng::HUGEINT * rest::HUGEINT * nc::HUGEINT)::DOUBLE
        |  END AS contrib
        |FROM grid ORDER BY window_start, event_type""".stripMargin,
    "q101_streaming_session" ->
      s"""WITH g AS (
        |  SELECT user_id, value, epoch(ts) AS e,
        |    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts) > 7200 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (SELECT user_id, value, e,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY e
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM g)
        |SELECT user_id, min(e) AS session_start,
        |  max(e) + 7200 AS session_end, count(*) AS n,
        |  ${Det.dsumSql("value")} AS value_sum
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q108_streaming_hopping" ->
      s"""SELECT user_id, wstart AS window_start, count(*) AS n,
        |  ${Det.dsumSql("value")} AS value_sum
        |FROM (SELECT user_id, value,
        |        (floor(epoch(ts) / 43200) - j) * 43200 AS wstart, epoch(ts) AS e
        |      FROM events CROSS JOIN (VALUES (0), (1)) AS hops(j))
        |WHERE wstart > e - 86400 AND wstart <= e
        |GROUP BY user_id, wstart ORDER BY user_id, window_start""".stripMargin,
    // count(DISTINCT ts), not count(*): the operator drops duplicate
    // (user, type, ts) triples, so the oracle must too — tie-INSENSITIVE
    // (round-9 advice: the old count(*) relied on fixture uniqueness)
    "q109_streaming_distinct" ->
      """SELECT user_id, event_type, count(DISTINCT ts) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    // The merge semantics stated directly: live keys are (base OR
    // upserted) minus deleted; %5 keys carry the edited text.
    "q150_merge_on_read" ->
      """SELECT doc_id, lang,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END)
        |    AS txt_md5
        |FROM documents
        |WHERE (doc_id % 3 <> 0 OR doc_id % 5 = 0) AND doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    // v1 -> v3 key-level changes from the same construction; rows the
    // diff must NOT emit (content-identical keys) are excluded by the
    // WHERE, so an over-reporting diff hash-fails.
    "q151_snapshot_diff" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'removed'
        |       WHEN doc_id % 3 = 0 THEN 'added'
        |       ELSE 'changed' END AS change
        |FROM documents
        |WHERE (doc_id % 3 <> 0 AND doc_id % 7 = 0)
        |   OR (doc_id % 5 = 0 AND doc_id % 7 <> 0)
        |ORDER BY doc_id""".stripMargin,

    // the streamed table IS the documents projection, both commits.
    "q202_snapshot_stream" ->
      """SELECT doc_id, lang FROM documents ORDER BY doc_id""",

    // batch statement of per-batch latest-wins: max ts per user, ties
    // by the remaining payload columns in batch order (event_id, value)
    // descending — the sink's window mirror.
    "q208_stream_upsert" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC, value DESC) AS rn FROM p)
        |SELECT user_id, event_id, value FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // the same 2·cum ≥ total rule over the (group, value) weight agg.
    "q209_weighted_median" ->
      """WITH vw AS (SELECT l_returnflag, l_quantity,
        |    CAST(sum(l_linenumber) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, l_quantity, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM vw)
        |SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS w_total,
        |  min(l_quantity) AS weighted_median
        |FROM c WHERE 2 * cum >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // native median()/mad() over the same non-null population.
    "q219_group_mad" ->
      """SELECT lang, CAST(count(n_chars) AS BIGINT) AS n,
        |  median(n_chars::DOUBLE) AS median,
        |  mad(n_chars::DOUBLE) AS mad
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // batch left join twin; unmatched purchases carry NULL v_event_id.
    "q198_stream_stream_outer" ->
      """SELECT p.user_id, p.event_id AS p_event_id, v.event_id AS v_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |ORDER BY p.user_id, p_event_id, v_event_id""".stripMargin,

    // the stream-stream join's batch twin: same key equality, same
    // closed [p.ts − 1h, p.ts] window on native timestamps.
    "q191_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS p_event_id, v.event_id AS v_event_id
        |FROM events p JOIN events v ON p.user_id = v.user_id
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |ORDER BY p.user_id, p_event_id, v_event_id""".stripMargin,

    // q66's candidate+confirm pipeline with the asymmetric batch/corpus
    // split — identical to the batch q145 CTEs minus the best-match
    // fold (the streaming operator emits confirmed PAIRS by contract).
    "q148_streaming_dedup" -> {
      import TextDedupQueries.{sigCtes, bandSql, jacSql,
        numBands, jaccardThreshold}
      s"""$sigCtes,
         |bands AS (SELECT doc_id, ${(0 until numBands).map(b => bandSql("sig", b)).mkString("[", ", ", "]")} AS bh FROM sigs),
         |bx AS (SELECT doc_id, i AS band, bh[i] AS bucket
         |  FROM bands CROSS JOIN (SELECT unnest(range(1, ${numBands + 1})) AS i)),
         |cand AS (SELECT DISTINCT i.doc_id AS doc_id, e.doc_id AS match_id
         |  FROM bx i JOIN bx e ON i.band = e.band AND i.bucket = e.bucket
         |  WHERE i.doc_id % 3 = 0 AND e.doc_id % 3 <> 0)
         |SELECT cand.doc_id AS doc_id, cand.match_id AS match_id,
         |  ${jacSql("s1.sh", "s2.sh")} AS jaccard
         |FROM cand JOIN sh s1 ON cand.doc_id = s1.doc_id
         |  JOIN sh s2 ON cand.match_id = s2.doc_id
         |WHERE ${jacSql("s1.sh", "s2.sh")} >= $jaccardThreshold
         |ORDER BY 1, 2""".stripMargin
    },
    "q107_explain_dot" ->
      """SELECT 1 AS ok_digraph, 1 AS ok_nodes, 1 AS ok_edges,
        |  1 AS ok_scan, 1 AS ok_edge_refs, 1 AS ok_closed""".stripMargin,
    // counts derived by hand: 'low'→[low]=1, ' lower'→[⎵,low,er]=3;
    // 'newer'→[n,e,w,er]=4; 'er'=1 + ' er'→[⎵,er]=2; "don't stop"→
    // [d,o,n]+[',t]+[⎵,s,t,o,p]=10; 'a1b22'→[a]+[1]+[b]+[2,2]=5
    "q106_bpe_exact" ->
      """SELECT * FROM (VALUES ('low lower', 4), ('newer', 4),
        |  ('er er', 3), ('don''t stop', 10), ('a1b22', 5)) AS t(s, n_bpe)
        |ORDER BY s""".stripMargin,
    // Tie-INSENSITIVE two-step form (round-9 advice; replaces ASOF JOIN,
    // whose winner among equal-ts quotes is engine-arbitrary): per
    // distinct trade instant take the latest quote ts, then the MAX
    // quote value at that ts — exactly the (ts, value)-ordered pick the
    // streaming operator makes — and join back to t so duplicate trade
    // rows keep their multiplicity. Valid on ANY fixture, ties included.
    "q104_streaming_asof" ->
      """WITH t AS (SELECT user_id, ts, value FROM events
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
        |SELECT t.user_id, epoch(t.ts) AS tsd, t.value,
        |  epoch(mv.qts) AS quote_tsd, mv.qv AS quote_value
        |FROM t JOIN mv ON t.user_id = mv.user_id AND t.ts = mv.ts
        |ORDER BY t.user_id, tsd, t.value""".stripMargin,
    // Same tie-proofing forward: earliest fill ts, then the MIN tick
    // value at that ts — the streaming operator's (ts, value) pick.
    "q105_streaming_asof_fwd" ->
      """WITH a AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |     t AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'view'),
        |     ak AS (SELECT DISTINCT user_id, ts FROM a),
        |     m AS (SELECT ak.user_id, ak.ts, min(t.ts) AS fts
        |           FROM ak JOIN t ON ak.user_id = t.user_id
        |             AND t.ts >= ak.ts
        |           GROUP BY ak.user_id, ak.ts),
        |     mv AS (SELECT m.user_id, m.ts, m.fts, min(t.value) AS fv
        |            FROM m JOIN t ON m.user_id = t.user_id
        |              AND t.ts = m.fts
        |            GROUP BY m.user_id, m.ts, m.fts)
        |SELECT a.user_id, epoch(a.ts) AS tsd, a.value,
        |  epoch(mv.fts) AS fill_tsd, mv.fv AS fill_value
        |FROM a JOIN mv ON a.user_id = mv.user_id AND a.ts = mv.ts
        |ORDER BY a.user_id, tsd, a.value""".stripMargin,
    // q97's 3-way-join oracle verbatim — the streaming NFA must emit
    // exactly the batch pattern matches once every event has ripened
    "q128_streaming_cep" ->
      """SELECT a.user_id, epoch(a.ts) AS a_t, epoch(b.ts) AS b_t,
        |  epoch(c.ts) AS c_t
        |FROM events a, events b, events c
        |WHERE a.user_id = b.user_id AND b.user_id = c.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'click'
        |  AND c.event_type = 'purchase'
        |  AND b.ts > a.ts AND c.ts > b.ts
        |  AND epoch(b.ts) <= epoch(a.ts) + 86400
        |  AND epoch(c.ts) <= epoch(a.ts) + 86400
        |  AND b.value > a.value
        |ORDER BY a.user_id, a_t, b_t, c_t""".stripMargin,
    // snapshots restated from region: v1 full, v2 keys<3, v3 append back
    // to full, HEAD (snap 4 row) == v3
    "q115_snapshot_timetravel" ->
      """SELECT CAST(snap AS BIGINT) AS snap, n_rows,
        |  CAST(key_sum AS BIGINT) AS key_sum FROM (
        |  SELECT 1 AS snap, count(*) AS n_rows, sum(r_regionkey) AS key_sum
        |  FROM region
        |  UNION ALL
        |  SELECT 2, count(*), sum(r_regionkey) FROM region WHERE r_regionkey < 3
        |  UNION ALL
        |  SELECT 3, count(*), sum(r_regionkey) FROM region
        |  UNION ALL
        |  SELECT 4, count(*), sum(r_regionkey) FROM region
        |) ORDER BY snap""".stripMargin,
    // pre-evolution rows (even half) must surface the added column as
    // NULL; post-evolution rows carry their committed value.
    "q197_schema_evolution" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // surviving HEAD content (v2 overwrite + v3 append) + the engine-
    // computed expiration flags stated as literal 1s.
    "q217_snapshot_expire" ->
      """SELECT doc_id, lang,
        |  CAST(1 AS BIGINT) AS ok_expired,
        |  CAST(1 AS BIGINT) AS ok_travel,
        |  CAST(1 AS BIGINT) AS ok_below_loud
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |ORDER BY doc_id""".stripMargin,
    // pixel-exact integer restatement of the Y4M fixture: both corrupt
    // classes (garbage bytes, truncated frame) must surface ok=0 rows
    "q116_video_decode" ->
      """WITH p AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    CAST(8 + (n_nationkey % 3) * 4 AS BIGINT) AS w,
        |    CAST(6 + (n_nationkey % 2) * 4 AS BIGINT) AS h,
        |    CAST(3 + n_nationkey % 5 AS BIGINT) AS nf
        |  FROM nation),
        |fr AS (SELECT id, w, h, nf, unnest(range(0, nf)) AS f FROM p),
        |px AS (SELECT id, f, w, h, unnest(range(0, w * h)) AS x FROM fr),
        |sums AS (
        |  SELECT id,
        |    CAST(sum((id*7 + f*11 + x*3) % 256) AS BIGINT) AS y_sum,
        |    CAST(sum(CASE WHEN f = 0 THEN (id*7 + x*3) % 256 ELSE 0 END)
        |      AS BIGINT) AS y0_sum
        |  FROM px GROUP BY id)
        |SELECT p.id,
        |  CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE 1 END AS ok,
        |  CASE WHEN p.id % 10 IN (4, 9) THEN 'unknown' ELSE 'y4m' END
        |    AS format,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE p.w END
        |    AS BIGINT) AS width,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE p.h END
        |    AS BIGINT) AS height,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE 25 END
        |    AS BIGINT) AS fps_num,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE 1 END
        |    AS BIGINT) AS fps_den,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE p.nf END
        |    AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE sums.y_sum END
        |    AS BIGINT) AS y_sum,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE sums.y0_sum END
        |    AS BIGINT) AS y0_sum
        |FROM p JOIN sums USING (id) ORDER BY id""".stripMargin,
    // per-sampled-frame luma sums of the same Y4M fixture; corrupt
    // clips (id%10 in 4,9) must contribute NO rows
    // per-frame sums from the generator formula + lag — the cut flag's
    // integer |Δ| ≥ τ·(w·h) restated exactly; corrupt ids excluded.
    "q210_scene_cuts" ->
      """WITH p AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    CAST(8 + (n_nationkey % 3) * 4 AS BIGINT) AS w,
        |    CAST(6 + (n_nationkey % 2) * 4 AS BIGINT) AS h,
        |    CAST(3 + n_nationkey % 5 AS BIGINT) AS nf
        |  FROM nation WHERE n_nationkey % 10 NOT IN (4, 9)),
        |fr AS (SELECT id, w, h, unnest(range(0, nf)) AS f FROM p),
        |px AS (SELECT id, f, w, h, unnest(range(0, w * h)) AS x FROM fr),
        |s AS (SELECT id, f, w, h,
        |    CAST(sum((id*7 + f*11 + x*3) % 256) AS BIGINT) AS y_sum
        |  FROM px GROUP BY id, f, w, h),
        |lg AS (SELECT id, f, w, h, y_sum,
        |    lag(y_sum) OVER (PARTITION BY id ORDER BY f) AS prev_sum
        |  FROM s)
        |SELECT id, CAST(f AS INT) AS frame_idx, y_sum, prev_sum,
        |  CAST(CASE WHEN abs(y_sum - prev_sum) >= 8 * w * h
        |    THEN 1 ELSE 0 END AS INT) AS cut
        |FROM lg WHERE prev_sum IS NOT NULL
        |ORDER BY id, frame_idx""".stripMargin,

    "q117_video_frames" ->
      """WITH p AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    CAST(8 + (n_nationkey % 3) * 4 AS BIGINT) AS w,
        |    CAST(6 + (n_nationkey % 2) * 4 AS BIGINT) AS h,
        |    CAST(3 + n_nationkey % 5 AS BIGINT) AS nf
        |  FROM nation WHERE n_nationkey % 10 NOT IN (4, 9)),
        |fr AS (SELECT id, w, h, unnest(range(0, nf, 2)) AS f FROM p),
        |px AS (SELECT id, f, unnest(range(0, w * h)) AS x FROM fr)
        |SELECT id, CAST(f AS INT) AS frame_idx,
        |  CAST(sum((id*7 + f*11 + x*3) % 256) AS BIGINT) AS y_sum
        |FROM px GROUP BY id, f ORDER BY id, frame_idx""".stripMargin,
    // sample-exact integer restatement of the WAV fixture: both corrupt
    // classes (garbage bytes, truncated RIFF) must surface ok=0 rows
    "q114_audio_decode" ->
      """WITH p AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    CAST(1 + n_nationkey % 2 AS BIGINT) AS ch,
        |    CAST(50 + (n_nationkey % 7) * 10 AS BIGINT) AS nf
        |  FROM nation),
        |s AS (SELECT id, ch, nf, unnest(range(0, nf)) AS i FROM p),
        |sums AS (
        |  SELECT id,
        |    CAST(sum((id*13 + 3*i) % 2001 - 1000
        |      + CASE WHEN ch = 2 THEN (id*13 + 7 + 3*i) % 2001 - 1000
        |             ELSE 0 END) AS BIGINT) AS amp_sum,
        |    CAST(sum((id*13 + 3*i) % 2001 - 1000) AS BIGINT) AS ch0_sum
        |  FROM s GROUP BY id)
        |SELECT p.id,
        |  CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE 1 END AS ok,
        |  CASE WHEN p.id % 10 IN (4, 9) THEN 'unknown' ELSE 'wave' END
        |    AS format,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE 8000 END
        |    AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE p.ch END
        |    AS BIGINT) AS channels,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE 16 END
        |    AS BIGINT) AS bits,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE p.nf END
        |    AS BIGINT) AS n_frames,
        |  CASE WHEN p.id % 10 IN (4, 9) THEN 0.0
        |       ELSE p.nf * 1000 / 8000.0 END AS duration_ms,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE sums.amp_sum END
        |    AS BIGINT) AS amp_sum,
        |  CAST(CASE WHEN p.id % 10 IN (4, 9) THEN 0 ELSE sums.ch0_sum END
        |    AS BIGINT) AS ch0_sum
        |FROM p JOIN sums USING (id) ORDER BY id""".stripMargin,
    // BYTE-exact chunking via hex(encode(text)) — 2 hex chars per byte,
    // so frame k is substr(hex, k·64+1, 64) regardless of the fixture's
    // character content (round-9 advice: the old substr-on-characters
    // oracle was only valid while the fixture happened to be ASCII)
    "q113_frame_sample" ->
      """WITH f AS (SELECT doc_id, hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS n FROM documents),
        |i AS (SELECT doc_id, hx, n,
        |        unnest(range(0, CAST(greatest(1, ceil(n / 32.0)) AS BIGINT),
        |                     2)) AS ix
        |      FROM f)
        |SELECT doc_id, CAST(ix AS INT) AS frame_idx,
        |  CAST(ix * 32 AS BIGINT) AS "offset",
        |  substr(hx, CAST(ix * 64 + 1 AS INT), 64) AS digest,
        |  CAST(least(32, n - ix * 32) AS BIGINT) AS frame_len
        |FROM i ORDER BY doc_id, frame_idx""".stripMargin,
    "q111_cep_nfa_route" ->
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
    "q112_image_resize" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, 1 AS ok,
        |  CAST(7 AS BIGINT) AS width, CAST(5 AS BIGINT) AS height,
        |  CAST(35 * ((n_nationkey * 7 + 3) % 256) AS BIGINT) AS r_sum,
        |  CAST(35 * ((n_nationkey * 11 + 3) % 256) AS BIGINT) AS g_sum,
        |  CAST(35 * ((n_nationkey * 13 + 3) % 256) AS BIGINT) AS b_sum
        |FROM nation ORDER BY id""".stripMargin,
    "q110_image_decode" ->
      """WITH p AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    CAST(8 + (n_nationkey % 5) * 4 AS BIGINT) AS w,
        |    CAST(6 + (n_nationkey % 3) * 4 AS BIGINT) AS h
        |  FROM nation)
        |SELECT id, 1 AS ok, 'png' AS format, w AS width, h AS height,
        |  h * ((w // 2) * ((id * 7) % 256)
        |     + (w - w // 2) * ((id * 17 + 5) % 256)) AS r_sum,
        |  h * ((w // 2) * ((id * 11) % 256)
        |     + (w - w // 2) * ((id * 19 + 5) % 256)) AS g_sum,
        |  h * ((w // 2) * ((id * 13) % 256)
        |     + (w - w // 2) * ((id * 23 + 5) % 256)) AS b_sum
        |FROM p ORDER BY id""".stripMargin,
    "q102_transform" ->
      """WITH t AS (
        |  SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS n_toks
        |  FROM documents)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks, tag FROM (
        |  SELECT doc_id, n_toks, 'doc' AS tag FROM t
        |  UNION ALL
        |  SELECT doc_id, n_toks, 'long' AS tag FROM t WHERE n_toks > 50)
        |ORDER BY doc_id, tag""".stripMargin,
    "q103_transform_sql" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q93_salted_join" ->
      s"""SELECT c_mktsegment, count(*) AS n,
        |  ${Det.dsumSql("o_totalprice")} AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q94_salted_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS l_quantity_sum,
        |  max(l_extendedprice) AS l_extendedprice_max, count(*) AS "count"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q95_welford_udaf" ->
      """SELECT 1 AS ok_mean, 1 AS ok_var, 1 AS ok_n""",
    "q195_topk_aggregator" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rank, o_orderkey,
        |  o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q96_tdigest" ->
      """SELECT 1 AS ok_q25, 1 AS ok_q50, 1 AS ok_q75, 1 AS ok_q95""",

    "q245_wide_quantiles" ->
      """SELECT 1 AS ok_extendedprice_q10, 1 AS ok_extendedprice_q50,
        |  1 AS ok_extendedprice_q90, 1 AS ok_quantity_q10,
        |  1 AS ok_quantity_q50, 1 AS ok_quantity_q90""".stripMargin,

    "q247_winsorize_cov" ->
      """SELECT 1 AS ok_lo_e, 1 AS ok_hi_e, 1 AS ok_lo_q, 1 AS ok_hi_q,
        |  1 AS ok_var_e, 1 AS ok_var_q, 1 AS ok_var_d,
        |  1 AS ok_cov_eq_pos""".stripMargin,

    "q248_multimodal_pipeline" ->
      s"""WITH RECURSIVE p AS (SELECT doc_id, doc_id // 5 AS g,
         |    doc_id % 5 AS j
         |  FROM documents WHERE doc_id % 10 <> 7),
         |h AS (SELECT doc_id, $phashSqlExpr AS phash FROM p),
         |conf AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM h a JOIN h b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 2),
         |sym AS (SELECT id_1 AS a, id_2 AS b FROM conf
         |  UNION ALL SELECT id_2, id_1 FROM conf),
         |reach(v, r) AS (
         |  SELECT doc_id, doc_id FROM h
         |  UNION
         |  SELECT reach.v, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster_id
         |  FROM reach GROUP BY v),
         |m AS (SELECT cc.doc_id, cc.cluster_id,
         |    CAST(length(dd.text) AS BIGINT) AS cap_len
         |  FROM cc JOIN documents dd ON cc.doc_id = dd.doc_id),
         |k AS (SELECT cluster_id, doc_id AS keeper_id,
         |    cap_len AS keeper_cap_len
         |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY cap_len DESC, doc_id ASC) AS rn FROM m)
         |  WHERE rn = 1),
         |agg AS (SELECT cluster_id, count(*) AS n_members,
         |    CAST(sum(cap_len) AS BIGINT) AS sum_cap_len
         |  FROM m GROUP BY cluster_id)
         |SELECT agg.cluster_id, k.keeper_id, agg.n_members,
         |  k.keeper_cap_len, agg.sum_cap_len
         |FROM agg JOIN k USING (cluster_id)
         |ORDER BY agg.cluster_id""".stripMargin,

    "q222_group_tdigest" ->
      """SELECT DISTINCT l_returnflag, 1 AS ok_q25, 1 AS ok_q50,
        |  1 AS ok_q75 FROM lineitem ORDER BY l_returnflag""".stripMargin,
    "q97_nfa_cep" ->
      """SELECT a.user_id, epoch(a.ts) AS a_t, epoch(b.ts) AS b_t,
        |  epoch(c.ts) AS c_t
        |FROM events a, events b, events c
        |WHERE a.user_id = b.user_id AND b.user_id = c.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'click'
        |  AND c.event_type = 'purchase'
        |  AND b.ts > a.ts AND c.ts > b.ts
        |  AND epoch(b.ts) <= epoch(a.ts) + 86400
        |  AND epoch(c.ts) <= epoch(a.ts) + 86400
        |  AND b.value > a.value
        |ORDER BY a.user_id, a_t, b_t, c_t""".stripMargin,
    "q98_sorted_csv" ->
      """SELECT event_id, user_id, epoch(ts) AS tsd, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS value_shifted
        |FROM events ORDER BY event_id""".stripMargin,
    // Tie-INSENSITIVE two-step form (round-10): mingle sorts its merged
    // iterator by (order keys, __stream), so at a tied instant the min
    // stream id opens and the max closes — stated exactly, instead of
    // min_by/max_by picks that relied on fixture-time uniqueness.
    "q99_mingle" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE event_type WHEN 'purchase' THEN 1 ELSE 2 END AS s
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |b AS (SELECT user_id, min(ts) AS fts, max(ts) AS lts,
        |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |    CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |  FROM m GROUP BY user_id),
        |f AS (SELECT m.user_id, min(m.s) AS first_stream
        |  FROM m JOIN b ON m.user_id = b.user_id AND m.ts = b.fts
        |  GROUP BY m.user_id),
        |l AS (SELECT m.user_id, max(m.s) AS last_stream
        |  FROM m JOIN b ON m.user_id = b.user_id AND m.ts = b.lts
        |  GROUP BY m.user_id)
        |SELECT b.user_id, b.n_purchase, b.n_view,
        |  f.first_stream, l.last_stream
        |FROM b JOIN f ON b.user_id = f.user_id
        |  JOIN l ON b.user_id = l.user_id
        |ORDER BY b.user_id""".stripMargin
  )
}
