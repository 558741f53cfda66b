package graft.ts

import graft.api.OrderedStream
import org.apache.spark.sql.{AnalysisException, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType, StructField, StructType, TimestampType}

/** Complex-event pattern recognition (MATCH_RECOGNIZE-lite) — the
  * reference's `pattern_recognize` (orderedstream.py:37-53) run the way
  * its `nfa_cep` executor runs it (cep_executors.py:196-272).
  *
  * A pattern is an ordered list of named events. A match is a strictly
  * time-increasing tuple of rows, one per event, same `by` key, with
  * `last.time <= first.time + maxSpan`. All matches are emitted (the
  * reference's DFS enumerates the same tuples).
  *
  * One engine runs every entry: a per-key NFA whose transition is
  * [[nfaStep]]. [[patternRecognize]] takes SQL predicates and emits the
  * full payload, [[nfaPatternRecognize]] takes typed predicates and
  * emits per-event times, and
  * [[graft.streaming.StreamingOps.streamingCep]] feeds the same step
  * the events a watermark has ripened.
  *
  * Times compare as `cast(time AS double)`: numerics pass through,
  * timestamps become fractional epoch seconds (µs-exact). Rows with a
  * null key or a null time never match. A missing `by` or time column,
  * or a time that is neither numeric nor TIMESTAMP, fails on the driver
  * before any job, with the analyzer's error classes.
  */
// Serializable: executor-side closures (the NFA's emit/time lambdas)
// reference object-private helpers, which scalac compiles as captures of
// this singleton — deserialization resolves back to the module instance.
object Cep extends Serializable {

  /** One pattern event: its name, a predicate on the event alone, and a
    * predicate on the event plus the matched prefix by event name. */
  type Event[E] = (String, E => Boolean, (E, Map[String, E]) => Boolean)

  /** Rewrite `name.column` references to the flattened `name_column`,
    * leaving quoted SQL string literals (`'example.com'`) as written. */
  private[ts] def rewrite(pred: String): String =
    refOrLiteral.replaceAllIn(pred, m => scala.util.matching.Regex.quoteReplacement(
      if (m.group(1) != null) m.group(1) else s"${m.group(2)}_${m.group(3)}"))
  private val refOrLiteral =
    """('(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")|\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)""".r

  /** The NFA's transition on one event `ev` of one key. `live` holds the
    * key's partial matches, newest first, each the matched (event name,
    * event) prefix in match order; the result is the new live list.
    *
    * The step drops a match whose first event lies more than `maxSpan`
    * before `ev`, extends every match whose next event accepts `ev` at a
    * strictly later time (all-matches semantics, like the reference's
    * DFS) and hands the complete ones to `emit`, then starts a fresh
    * match when the first event accepts `ev`.
    *
    * A dense burst (many events matching every predicate inside one span)
    * grows the live set combinatorially; past `maxLive` live matches the
    * step throws "CEP state blow-up" (`scope` names the key) instead of
    * running the executor out of memory. Complete matches are not
    * counted: each caller bounds them in its own scope. */
  private[graft] def nfaStep[E](
      events: IndexedSeq[Event[E]],
      time: E => Double,
      maxSpan: Double,
      maxLive: Int,
      scope: => String)(
      live: List[Vector[(String, E)]],
      ev: E,
      emit: Vector[(String, E)] => Unit): List[Vector[(String, E)]] = {
    val now = time(ev)
    val kept = List.newBuilder[Vector[(String, E)]]
    val grown = List.newBuilder[Vector[(String, E)]]
    var n = 0
    live.foreach { s =>
      if (now <= time(s.head._2) + maxSpan) {
        kept += s; n += 1
        val (name, self, cross) = events(s.length)
        if (now > time(s.last._2) && self(ev) && cross(ev, s.toMap)) {
          val ns = s :+ (name -> ev)
          if (ns.length == events.length) emit(ns) else { grown += ns; n += 1 }
        }
      }
    }
    val (first, self0, _) = events.head
    if (self0(ev)) {
      if (events.length == 1) emit(Vector(first -> ev))
      else { grown += Vector(first -> ev); n += 1 }
    }
    if (n > maxLive)
      throw new IllegalStateException(
        s"CEP state blow-up: > $maxLive live partial matches $scope " +
        s"inside maxSpan=$maxSpan (all-matches semantics are " +
        "combinatorial on dense bursts). Tighten event predicates or " +
        "maxSpan, or raise maxLiveStatesPerKey explicitly.")
    grown.result() ::: kept.result()
  }

  /** Event time in seconds, as `cast(time AS double)` reads it: numerics
    * pass through, timestamps (`Instant` under the Java 8 datetime API)
    * become fractional epoch seconds, µs-exact. [[checkInput]] rules out
    * every other type. */
  private def seconds(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case t: java.sql.Timestamp =>
      (t.getTime * 1000 + (t.getNanos / 1000) % 1000) / 1e6
    case i: java.time.Instant =>
      (i.getEpochSecond * 1000000 + i.getNano / 1000) / 1e6
  }

  /** Driver-side checks before any job: `by` and the time column exist,
    * and the time is numeric or TIMESTAMP. */
  private def checkInput(os: OrderedStream, by: String): Unit = {
    val schema = os.df.schema
    def field(name: String) = schema.find(_.name == name).getOrElse(
      throw new AnalysisException("UNRESOLVED_COLUMN.WITH_SUGGESTION", Map(
        "objectName" -> s"`$name`",
        "proposal" -> schema.fieldNames.map(c => s"`$c`").mkString(", "))))
    field(by)
    val t = field(os.timeCol)
    t.dataType match {
      case _: NumericType | TimestampType => ()
      case other => throw new AnalysisException(
        "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
          "sqlExpr" -> s""""pattern recognize on `$by`, `${t.name}`"""",
          "paramIndex" -> "second",
          "requiredType" -> "(\"NUMERIC\" or \"TIMESTAMP\")",
          "inputSql" -> s""""`${t.name}`"""",
          "inputType" -> ("\"" + other.sql + "\"")))
    }
  }

  /** The batch engine behind both entries: ONE shuffle on `by`, a sort
    * by (key, time) within partitions, and a streaming mapPartitions
    * that feeds each key's rows through [[nfaStep]] (the
    * statefulTransform shape). Rows with a null key or time are dropped.
    * `emitRow` builds the output row from the key and a complete match.
    *
    * A key's rows are NEVER materialized: input streams through and
    * matches emit incrementally (a per-row queue, bounded by the live
    * set), so a hot key with 10⁸ rows holds only its live partial
    * matches in memory. `maxMatchesPerKey` (off when <= 0) bounds one
    * key's complete matches, for callers who want runaway output to
    * fail fast rather than fill the sink. */
  private def nfaRun(
      df: DataFrame,
      timeCol: String,
      by: String,
      events: Seq[Event[Row]],
      maxSpan: Double,
      maxLiveStatesPerKey: Int,
      maxMatchesPerKey: Long,
      outSchema: StructType)(
      emitRow: (Any, Vector[(String, Row)]) => Row): DataFrame = {
    require(events.nonEmpty)
    val keyIdx = df.columns.indexOf(by)
    val tIdx = df.columns.indexOf(timeCol)
    val evs = events.toIndexedSeq
    val time = (r: Row) => seconds(r.get(tIdx))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    // no explicit count: picks up the shuffle-partitions conf (which may
    // be non-numeric, e.g. "auto") and lets AQE coalesce natively; hash
    // partitioning co-locates each key at any partition count
    df.filter(col(by).isNotNull && col(timeCol).isNotNull)
      .repartition(col(by))
      .sortWithinPartitions(col(by), col(timeCol))
      .mapPartitions { rows =>
        new Iterator[Row] {
          private val pending = scala.collection.mutable.Queue.empty[Row]
          private var key: Any = null
          private var started = false
          private var live = List.empty[Vector[(String, Row)]]
          private var matches = 0L
          private def emit(matched: Vector[(String, Row)]): Unit = {
            matches += 1
            if (maxMatchesPerKey > 0 && matches > maxMatchesPerKey)
              throw new IllegalStateException(
                s"CEP match blow-up: > $maxMatchesPerKey complete matches " +
                s"for one '$by' key inside maxSpan=$maxSpan (all-matches " +
                "semantics are combinatorial on dense bursts). Tighten " +
                "event predicates or maxSpan, or raise maxMatchesPerKey.")
            pending.enqueue(emitRow(key, matched))
          }
          def hasNext: Boolean = {
            while (pending.isEmpty && rows.hasNext) {
              val r = rows.next()
              val k = r.get(keyIdx)
              if (!started || !java.util.Objects.equals(k, key)) {
                key = k; started = true; live = Nil; matches = 0L
              }
              live = nfaStep(evs, time, maxSpan,
                maxLiveStatesPerKey, s"for one '$by' key")(live, r, emit)
            }
            pending.nonEmpty
          }
          def next(): Row = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            pending.dequeue()
          }
        }
      }
      .toDF()
  }

  /** Typed-predicate entry: predicates are Scala functions over the input
    * row (its columns in `os.df` order), the typed analog of the
    * reference's string-substituted predicates.
    * Emits one row per complete match: the key, then `<name>_t` (the
    * event's time as a double) per event.
    *
    * `maxLiveStatesPerKey` is the dense-burst guard on live partial
    * matches (see [[nfaStep]]); `maxMatchesPerKey` (off when <= 0)
    * bounds one key's complete matches. */
  def nfaPatternRecognize(
      os: OrderedStream,
      events: Seq[Event[Row]],
      maxSpan: Double,
      by: String,
      maxLiveStatesPerKey: Int = 1 << 20,
      maxMatchesPerKey: Long = -1L): DataFrame = {
    checkInput(os, by)
    val tIdx = os.df.columns.indexOf(os.timeCol)
    val outSchema = StructType(os.df.schema(by).copy(nullable = false) +:
      events.map(e => StructField(s"${e._1}_t", DoubleType)))
    nfaRun(os.df, os.timeCol, by, events, maxSpan, maxLiveStatesPerKey,
      maxMatchesPerKey, outSchema) { (key, matched) =>
      Row.fromSeq(key +: matched.map(m => seconds(m._2.get(tIdx))))
    }
  }

  /** An event's SQL predicate, analyzed ONCE on the driver (names,
    * implicit casts and function lookup all go through the real
    * analyzer, via an empty frame's Filter), then compiled per executor
    * on first use. It reads only the inputs it references: input k is
    * column `colIdx(k)` of event `from(k)`'s row, where the predicate's
    * own event `own` means the current row. Null results count as false,
    * as in a Filter. */
  private class CompiledPred(
      cond: Expression,
      inputs: Seq[Attribute],
      from: Array[Int],
      colIdx: Array[Int],
      own: Int,
      names: IndexedSeq[String]) extends Serializable {
    @transient private lazy val pred = {
      val p = Predicate.create(cond, inputs)
      p.initialize(org.apache.spark.TaskContext.getPartitionId())
      p
    }
    @transient private lazy val convs = inputs.map(a =>
      CatalystTypeConverters.createToCatalystConverter(a.dataType)).toArray
    def selfOnly: Boolean = from.forall(_ == own)
    def eval(r: Row, prefix: Map[String, Row]): Boolean = {
      val values = new Array[Any](colIdx.length)
      var k = 0
      while (k < colIdx.length) {
        val src = if (from(k) == own) r else prefix(names(from(k)))
        values(k) = convs(k)(src.get(colIdx(k)))
        k += 1
      }
      pred.eval(new GenericInternalRow(values))
    }
  }

  /** Compile `sql` against `layout`: (field, event index, column index)
    * per input the predicate may name. */
  private def compilePred(
      spark: SparkSession,
      layout: Seq[(StructField, Int, Int)],
      sql: String,
      own: Int,
      names: IndexedSeq[String]): CompiledPred = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), StructType(layout.map(_._1)))
      .filter(expr(sql))
    val f = empty.queryExecution.analyzed.collectFirst {
      case fl: Filter => fl
    }.getOrElse(throw new IllegalArgumentException(
      s"CEP predicate did not analyze to a Filter: $sql"))
    val out = f.child.output
    val used = out.indices.filter(k => f.condition.references.contains(out(k)))
    new CompiledPred(f.condition, used.map(out), used.map(layout(_)._2).toArray,
      used.map(layout(_)._3).toArray, own, names)
  }

  /** SQL-predicate entry. Later predicates may reference earlier events'
    * columns as `name.column` (e.g. `"b.value > a.value"`); a predicate
    * may also name its own event's columns bare (`"v < 20"`). Each
    * predicate compiles once on the driver against the flattened
    * `<name>_<column>` layout of its event and the ones before it. The
    * output is `by`, then `<name>_<column>` for every non-key column of
    * every event, in event order and with the source types.
    *
    * `maxLiveStatesPerKey` and `maxMatchesPerKey` are the guards of
    * [[nfaPatternRecognize]]. */
  def patternRecognize(
      os: OrderedStream,
      events: Seq[(String, String)],
      maxSpan: Double,
      by: String,
      maxLiveStatesPerKey: Int = 1 << 20,
      maxMatchesPerKey: Long = -1L): DataFrame = {
    checkInput(os, by)
    val schema = os.df.schema
    val cols = schema.fieldNames.toIndexedSeq
    val payload = cols.indices.filterNot(cols(_) == by)
    val names = events.map(_._1).toIndexedSeq
    def flat(j: Int) = payload.map(c =>
      (schema(c).copy(name = s"${names(j)}_${cols(c)}"), j, c))
    val nfaEvents = names.indices.map { i =>
      val prefix = (0 to i).flatMap(flat)
      val taken = prefix.map(_._1.name.toLowerCase).toSet
      val own = cols.indices.filterNot(c => taken(cols(c).toLowerCase))
        .map(c => (schema(c), i, c))
      val p = compilePred(os.df.sparkSession, prefix ++ own,
        rewrite(events(i)._2), i, names)
      if (p.selfOnly)
        (names(i), (r: Row) => p.eval(r, Map.empty),
          (_: Row, _: Map[String, Row]) => true)
      else
        (names(i), (_: Row) => true,
          (r: Row, matched: Map[String, Row]) => p.eval(r, matched))
    }
    val outSchema = StructType(schema(by) +: names.indices.flatMap(flat).map(_._1))
    nfaRun(os.df, os.timeCol, by, nfaEvents, maxSpan, maxLiveStatesPerKey,
      maxMatchesPerKey, outSchema) { (key, matched) =>
      Row.fromSeq(key +: matched.flatMap { case (_, r) => payload.map(r.get) })
    }
  }
}
