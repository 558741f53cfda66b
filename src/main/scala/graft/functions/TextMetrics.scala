package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One compiled pass computing every per-document text statistic the
  * language-ID / quality-scoring tier consumes. The Column-expression
  * forms (`filter(split(lower(text)))` + per-language `filter`/
  * `array_contains` + `aggregate` token-length sums) are higher-order
  * functions, which Spark evaluates INTERPRETED — measured ~270 µs per
  * 300-char document for langId at sf0.1, i.e. the curation pipeline's
  * dominant cost at corpus scale. This expression produces identical
  * numbers from one byte walk inside whole-stage codegen.
  *
  * Exactness contract (each field must reproduce the Column form
  * bit-for-bit, because the DuckDB oracles mirror those semantics):
  *   - tokens are maximal runs of non-whitespace in `lower(text)`,
  *     where whitespace is Java regex `\s` = ASCII space \t \n \x0B \f
  *     \r — those bytes never occur inside a UTF-8 multi-byte
  *     sequence, so the byte walk is exact for any input;
  *   - `n_chars`/`sum_tok_len` count CODEPOINTS (Spark `length`), via
  *     non-continuation-byte counting;
  *   - `n_alpha`/`n_punct` count `[a-zA-Z]` / `[.,;:!?]` bytes in the
  *     ORIGINAL text (the `regexp_replace` forms' semantics);
  *   - per-language hits are token byte-equality against the stopword
  *     lists (multiplicity-preserving); `n_stop` is hits against the
  *     union (the lists are disjoint, so it equals the sum).
  */
object TextMetricsImpl {
  private final val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def compute(text: UTF8String, stop: java.util.HashMap[String, Integer],
      nLangs: Int, maxStopLen: Int): InternalRow = {
    val orig = text.getBytes
    var nChars = 0; var nAlpha = 0; var nPunct = 0
    var i = 0
    while (i < orig.length) {
      val b = orig(i)
      if ((b & 0xC0) != 0x80) nChars += 1
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) nAlpha += 1
      else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' ||
        b == '?') nPunct += 1
      i += 1
    }
    val low = text.toLowerCase.getBytes
    val n = low.length
    var nTok = 0; var sumTokLen = 0L; var nStop = 0
    val hits = new Array[Int](nLangs)
    var j = 0
    while (j < n) {
      while (j < n && isWs(low(j))) j += 1
      if (j < n) {
        val start = j
        var cp = 0
        while (j < n && !isWs(low(j))) {
          if ((low(j) & 0xC0) != 0x80) cp += 1
          j += 1
        }
        nTok += 1
        sumTokLen += cp
        // only tokens short enough to be stopwords pay the String alloc
        if (j - start <= maxStopLen) {
          val li = stop.get(new String(low, start, j - start, Utf8))
          if (li != null) { hits(li.intValue()) += 1; nStop += 1 }
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nChars, nAlpha, nPunct, nTok, sumTokLen,
        new GenericArrayData(hits.map(Int.box)), nStop))
  }
}

/** Catalyst expression `text_metrics(text)` (see [[TextMetricsImpl]]).
  * `stopLists` is bound at construction (library constant — the same
  * lists the oracle SQL is generated from), so per-row work is one
  * compiled static call inside whole-stage codegen — the same pattern
  * as [[PortableHash]]/[[BpeCount]]. */
case class TextMetrics(child: Expression, stopLists: Seq[Seq[String]])
    extends StringArgument {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))

  @transient private lazy val stop: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    stopLists.zipWithIndex.foreach { case (ws, li) =>
      ws.foreach { w =>
        require(m.put(w, Integer.valueOf(li)) == null,
          s"stopword '$w' appears in two languages — n_stop would " +
            "double-count; keep the lists disjoint")
      }
    }
    m
  }
  @transient private lazy val maxStopLen =
    stopLists.flatten.map(_.getBytes("UTF-8").length).foldLeft(0)(_ max _)

  override def nullSafeEval(input: Any): Any =
    TextMetricsImpl.compute(input.asInstanceOf[UTF8String], stop,
      stopLists.size, maxStopLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("textMetricsStop", stop,
      "java.util.HashMap<String, Integer>")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextMetricsImpl.compute(" +
        s"$t, $stopRef, ${stopLists.size}, $maxStopLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextMetrics =
    copy(child = newChild)
  override def prettyName: String = "text_metrics"
}
