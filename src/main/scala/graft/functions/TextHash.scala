package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled token-hash kernels for the dedup/sketch tier.
  *
  * Everything in MinHash/SimHash/repetition-signal land derives from
  * one primitive: the portable polynomial hash of each whitespace token
  * of `lower(text)`. The Column forms build that array with
  * higher-order functions and then run more HOFs over it (16 min-folds
  * for MinHash, 24 bit-filters for SimHash, n-gram combines for the
  * repetition signals) — all interpreted, all dominated by per-element
  * expression-tree walks. These kernels compute the identical integers
  * in one compiled pass per document (same tokenizer byte-walk as
  * [[TextMetricsImpl]], same codepoint hash as [[PortableHashImpl]],
  * same combine/coefficient constants the oracle SQL is generated
  * from), so every gate hash is unchanged.
  */
object TextHashImpl {
  final val P = 1000000007L
  final val B = 31L

  /** MinHash universal-hash coefficients — THE source of truth
    * (`Dedup.hashCoeffs` delegates here; the oracle SQL is generated
    * from the same values). aᵢ odd, all < P; products aᵢ·h < 2^60. */
  def hashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      (((2L * i + 1) * 15485863L) % P, (i.toLong * 32452843L + 7L) % P)
    }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Per-token portable hashes of `lower(text)` — one byte walk with
    * inline UTF-8 decoding (matches `String.codePointAt` for all valid
    * UTF-8, supplementary planes included). */
  def tokenHashArray(text: UTF8String): Array[Long] = {
    val low = text.toLowerCase.getBytes
    val n = low.length
    val out = new java.util.ArrayList[java.lang.Long](16)
    var i = 0
    while (i < n) {
      while (i < n && isWs(low(i))) i += 1
      if (i < n) {
        var h = 0L
        while (i < n && !isWs(low(i))) {
          val b = low(i) & 0xFF
          var cp = 0
          var len = 1
          if (b < 0x80) cp = b
          else if ((b & 0xE0) == 0xC0) {
            cp = ((b & 0x1F) << 6) | (low(i + 1) & 0x3F); len = 2
          } else if ((b & 0xF0) == 0xE0) {
            cp = ((b & 0x0F) << 12) | ((low(i + 1) & 0x3F) << 6) |
              (low(i + 2) & 0x3F); len = 3
          } else {
            cp = ((b & 0x07) << 18) | ((low(i + 1) & 0x3F) << 12) |
              ((low(i + 2) & 0x3F) << 6) | (low(i + 3) & 0x3F); len = 4
          }
          h = (h * B + cp) % P
          i += len
        }
        out.add(h)
      }
    }
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    arr
  }

  /** Token strings of `lower(text)` — identical to
    * `filter(split(lower(text), "\\s+"), length > 0)`. */
  def tokensOf(text: UTF8String): ArrayData = {
    val low = text.toLowerCase
    val bytes = low.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String](16)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Token windows (see [[TokenWindows]]): width tokens every stride,
    * rebuilt with single spaces — identical strings/counts to the HOF
    * slice + array_join build over [[tokensOf]]. */
  def tokenWindows(text: UTF8String, width: Int, stride: Int): ArrayData = {
    val toks = tokensOf(text)
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val overlap = width - stride
    val k = math.max(1L, (n.toLong - overlap + stride - 1) / stride).toInt
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val start = i * stride
      val len = math.min(n - start, width)
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < len) {
        if (j > 0) sb.append(' ')
        sb.append(toks.getUTF8String(start + j).toString)
        j += 1
      }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i, start, len, UTF8String.fromString(sb.toString)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct hashed k-shingles, first-occurrence order — identical to
    * `array_distinct(transform(...))` over the HOF token hashes. */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val hs = tokenHashArray(text)
    if (hs.length < k) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long](hs.length * 2)
    val out = new java.util.ArrayList[java.lang.Long](hs.length)
    var j = 0
    while (j <= hs.length - k) {
      var c = hs(j)
      var r = 1
      while (r < k) { c = (c * B + hs(j + r)) % P; r += 1 }
      if (seen.add(c)) out.add(c)
      j += 1
    }
    val arr = new Array[Long](out.size)
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  /** Hashed word n-grams WITH multiplicity, document order — the
    * multiset twin of [[shingleHashes]] (same polynomial combine, no
    * dedup): the ROUGE/BLEU clipped-overlap unit, where a bigram
    * occurring twice must count twice. */
  def ngramHashesMulti(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(ngramLongs(text, n))

  /** ROUGE-N core per (candidate, reference) pair in ONE pass: hashed
    * n-gram totals for both sides plus the clipped multiset overlap
    * Σ_g min(count_cand(g), count_ref(g)) — identical to the
    * explode → per-(pair, gram) count → min-sum relational form, but
    * per-row (zero exchange at any pair count). */
  def rougeOverlap(cand: UTF8String, ref: UTF8String,
      n: Int): GenericInternalRow = {
    val ch = ngramLongs(cand, n)
    val rh = ngramLongs(ref, n)
    var ov = 0L
    if (ch.length > 0 && rh.length > 0) {
      val counts = new java.util.HashMap[java.lang.Long, Int](ch.length * 2)
      var i = 0
      while (i < ch.length) {
        counts.merge(ch(i), 1, (a, b) => a + b)
        i += 1
      }
      var j = 0
      while (j < rh.length) {
        val c = counts.get(rh(j))
        if (c != null && c > 0) { counts.put(rh(j), c - 1); ov += 1 }
        j += 1
      }
    }
    new GenericInternalRow(Array[Any](ch.length.toLong, rh.length.toLong, ov))
  }

  /** Winnowed fingerprints (see [[graft.dedup.Dedup.winnowedFingerprints]]
    * for the contract): positional k-gram hashes, min of every
    * w-window via a monotonic deque (O(grams), not O(grams·w) — the
    * HOF slice-per-window form this replaced allocated a w-array per
    * position and ran interpreted: 15 s at sf0.1 vs sub-second here),
    * distinct values in first-occurrence order — identical output to
    * `array_distinct(transform(sequence(...), i -> array_min(slice(g,
    * i, w))))` with the small-doc single-min and empty cases. */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val g = ngramLongs(text, k)
    val m = g.length
    if (m == 0) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (m < w) {
      var mn = g(0)
      var i = 1
      while (i < m) { if (g(i) < mn) mn = g(i); i += 1 }
      seen.add(mn)
    } else {
      val dq = new java.util.ArrayDeque[Integer]()
      var i = 0
      while (i < m) {
        while (!dq.isEmpty && g(dq.peekLast) >= g(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst <= i - w) dq.pollFirst()
        if (i >= w - 1) seen.add(g(dq.peekFirst))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  private def ngramLongs(text: UTF8String, n: Int): Array[Long] = {
    val hs = tokenHashArray(text)
    if (hs.length < n) return Array.emptyLongArray
    val out = new Array[Long](hs.length - n + 1)
    var j = 0
    while (j <= hs.length - n) {
      var c = hs(j)
      var r = 1
      while (r < n) { c = (c * B + hs(j + r)) % P; r += 1 }
      out(j) = c
      j += 1
    }
    out
  }

  /** MinHash signature over a shingle-hash array: sigᵢ = min (aᵢ·h+bᵢ)
    * mod P, sentinel P when empty — identical to the 16 min-fold HOFs. */
  def minhashFromHashes(sh: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val sig = new Array[Long](a.length)
    java.util.Arrays.fill(sig, P)
    val n = sh.numElements()
    var j = 0
    while (j < n) {
      val h = sh.getLong(j)
      var i = 0
      while (i < a.length) {
        val v = (a(i) * h + b(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash: bit j set iff a strict majority of token hashes have bit
    * j set — identical to the per-bit filter HOFs. */
  def simhash(text: UTF8String, numBits: Int): Long = {
    val hs = tokenHashArray(text)
    val counts = new Array[Int](numBits)
    var i = 0
    while (i < hs.length) {
      var j = 0
      while (j < numBits) {
        if (((hs(i) >> j) & 1L) == 1L) counts(j) += 1
        j += 1
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < numBits) {
      if (counts(j) * 2 > hs.length) v |= (1L << j)
      j += 1
    }
    v
  }

  /** Duplicate-n-gram fractions over hashed n-grams for each n in `ns`
    * — identical to `1.0 - distinct/total` over `ngramHashes`. */
  def dupNgramFracs(text: UTF8String, ns: Array[Int]): GenericInternalRow = {
    val hs = tokenHashArray(text)
    val out = new Array[Any](ns.length)
    var x = 0
    while (x < ns.length) {
      val n = ns(x)
      val total = hs.length - n + 1
      if (total <= 0) out(x) = 0.0
      else {
        val seen = new java.util.HashSet[java.lang.Long](total * 2)
        var j = 0
        while (j <= hs.length - n) {
          var c = hs(j)
          var r = 1
          while (r < n) { c = (c * B + hs(j + r)) % P; r += 1 }
          seen.add(c)
          j += 1
        }
        out(x) = 1.0 - seen.size.toDouble / total.toDouble
      }
      x += 1
    }
    new GenericInternalRow(out)
  }

  /** Order-sensitive rolling fingerprint: fold((f·B + h) mod P) from 0
    * — identical to the `aggregate` HOF. */
  def fingerprint(text: UTF8String): Long = {
    val hs = tokenHashArray(text)
    var f = 0L
    var i = 0
    while (i < hs.length) { f = (f * B + hs(i)) % P; i += 1 }
    f
  }
}

/** Shared shape for the binary (string/array, foldable-int) kernels. */
trait TextHashBinary extends BinaryExpression {
  protected def fnName: String
  protected def leftOk(dt: DataType): Boolean
  override def checkInputDataTypes(): TypeCheckResult =
    if (!leftOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$fnName cannot accept first argument of ${left.dataType}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$fnName requires a foldable int second argument")
    else TypeCheckResult.TypeCheckSuccess
  @transient protected lazy val param: Int =
    right.eval(null).asInstanceOf[Int]
  override def prettyName: String = fnName
}

/** `shingle_hashes(text, k)` → array<bigint> (see [[TextHashImpl]]). */
case class ShingleHashes(left: Expression, right: Expression)
    extends TextHashBinary {
  override protected def fnName: String = "shingle_hashes"
  override protected def leftOk(dt: DataType): Boolean = dt == StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any, k: Any): Any =
    TextHashImpl.shingleHashes(t.asInstanceOf[UTF8String], param)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.shingleHashes($t, $param);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `ngram_hashes(text, n)` → array<bigint> WITH multiplicity (see
  * [[TextHashImpl.ngramHashesMulti]]). */
case class NgramHashesMulti(left: Expression, right: Expression)
    extends TextHashBinary {
  override protected def fnName: String = "ngram_hashes"
  override protected def leftOk(dt: DataType): Boolean = dt == StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any, k: Any): Any =
    TextHashImpl.ngramHashesMulti(t.asInstanceOf[UTF8String], param)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.ngramHashesMulti($t, $param);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `minhash_from_hashes(sh, numHashes)` → array<bigint> signature. */
case class MinhashFromHashes(left: Expression, right: Expression)
    extends TextHashBinary {
  override protected def fnName: String = "minhash_from_hashes"
  override protected def leftOk(dt: DataType): Boolean =
    dt.isInstanceOf[ArrayType] && dt.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val (ca, cb) = {
    val cs = TextHashImpl.hashCoeffs(param)
    (cs.map(_._1).toArray, cs.map(_._2).toArray)
  }
  override def nullSafeEval(sh: Any, n: Any): Any =
    TextHashImpl.minhashFromHashes(sh.asInstanceOf[ArrayData], ca, cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", ca, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", cb, "long[]")
    nullSafeCodeGen(ctx, ev, (sh, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.minhashFromHashes($sh, $aRef, $bRef);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `simhash_hash(text, numBits)` → bigint. */
case class SimhashHash(left: Expression, right: Expression)
    extends TextHashBinary {
  override protected def fnName: String = "simhash_hash"
  override protected def leftOk(dt: DataType): Boolean = dt == StringType
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any, n: Any): Any =
    TextHashImpl.simhash(t.asInstanceOf[UTF8String], param)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.simhash($t, $param);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `dup_ngram_fracs(text, max_n)` → struct<n1:double,…,n<max_n>:double>
  * — duplicate-n-gram fractions for n = 1..max_n in one pass. */
case class DupNgramFracs(left: Expression, right: Expression)
    extends TextHashBinary {
  override protected def fnName: String = "dup_ngram_fracs"
  override protected def leftOk(dt: DataType): Boolean = dt == StringType
  override def dataType: DataType = StructType(
    (1 to param).map(n => StructField(s"n$n", DoubleType, nullable = false)))
  @transient private lazy val ns = (1 to param).toArray
  override def nullSafeEval(t: Any, n: Any): Any =
    TextHashImpl.dupNgramFracs(t.asInstanceOf[UTF8String], ns)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("dupNs", ns, "int[]")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.dupNgramFracs($t, $nsRef);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `token_windows(text, width, stride)` → array<struct<chunk_i:int,
  * tok_start:int, n_tokens:int, span:string>>: token windows of `width`
  * every `stride` tokens, K = max(1, ceil((nTok − (width − stride)) /
  * stride)) windows for non-empty docs (no trailing window fully
  * contained in its predecessor), empty array for empty docs. With
  * width == stride these are `Curation.spanDedup`'s disjoint chunks;
  * with stride < width they are `chunkDocuments`'s overlapping RAG
  * windows — one compiled pass instead of the interpreted
  * transform/slice/array_join HOF build. */
case class TokenWindows(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("chunk_i", IntegerType, nullable = false),
    StructField("tok_start", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("span", StringType, nullable = false))) match {
    case st => ArrayType(st, containsNull = false)
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"token_windows requires a string first argument, got ${first.dataType}")
    else if (Seq(second, third).exists(e => e.dataType != IntegerType || !e.foldable))
      TypeCheckResult.TypeCheckFailure(
        "token_windows requires foldable int width/stride arguments")
    // validate at ANALYSIS time (round-9 advice): stride = 0 would divide
    // by zero mid-job, stride > width would emit an empty trailing window
    // (start >= n, n_tokens = 0) violating the documented K contract —
    // only the Curation wrappers used to enforce the range
    else if (width < 1 || stride < 1 || stride > width)
      TypeCheckResult.TypeCheckFailure(
        s"token_windows requires 1 <= stride <= width, got width=$width stride=$stride")
    else TypeCheckResult.TypeCheckSuccess
  @transient private lazy val width: Int = second.eval(null).asInstanceOf[Int]
  @transient private lazy val stride: Int = third.eval(null).asInstanceOf[Int]
  override def nullSafeEval(t: Any, w: Any, s: Any): Any =
    TextHashImpl.tokenWindows(t.asInstanceOf[UTF8String], width, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.tokenWindows($t, $width, $stride);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TokenWindows =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "token_windows"
}

/** `winnow_fingerprints(text, k, w)` → array<bigint> winnowed
  * fingerprint values (see [[TextHashImpl.winnowFingerprints]]). */
case class WinnowFingerprints(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints requires a string first argument, got ${first.dataType}")
    else if (Seq(second, third).exists(e => e.dataType != IntegerType || !e.foldable))
      TypeCheckResult.TypeCheckFailure(
        "winnow_fingerprints requires foldable int k/w arguments")
    else if (k < 1 || w < 1)
      TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints requires k >= 1 and w >= 1, got k=$k w=$w")
    else TypeCheckResult.TypeCheckSuccess
  @transient private lazy val k: Int = second.eval(null).asInstanceOf[Int]
  @transient private lazy val w: Int = third.eval(null).asInstanceOf[Int]
  override def nullSafeEval(t: Any, kk: Any, ww: Any): Any =
    TextHashImpl.winnowFingerprints(t.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.winnowFingerprints($t, $k, $w);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowFingerprints =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "winnow_fingerprints"
}

/** `rouge_overlap(cand, ref, n)` → struct(n_cand, n_ref, overlap):
  * per-row clipped n-gram overlap (see [[TextHashImpl.rougeOverlap]]). */
case class RougeOverlap(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_cand", LongType, nullable = false),
    StructField("n_ref", LongType, nullable = false),
    StructField("overlap", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType || second.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        "rouge_overlap requires string candidate/reference arguments")
    else if (third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "rouge_overlap requires a foldable int n argument")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(
        s"rouge_overlap requires n >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess
  @transient private lazy val n: Int = third.eval(null).asInstanceOf[Int]
  override def nullSafeEval(c: Any, r: Any, nn: Any): Any =
    TextHashImpl.rougeOverlap(c.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, r, _) =>
      s"${ev.value} = graft.functions.TextHashImpl.rougeOverlap($c, $r, $n);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RougeOverlap =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "rouge_overlap"
}

/** `tokens_of(text)` → array<string> lower-cased whitespace tokens. */
case class TokensOf(child: Expression) extends StringArgument {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextHashImpl.tokensOf(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextHashImpl.tokensOf($t)")
  override protected def withNewChildInternal(newChild: Expression): TokensOf =
    copy(child = newChild)
  override def prettyName: String = "tokens_of"
}

/** `fingerprint_hash(text)` → bigint rolling fingerprint. */
case class FingerprintHash(child: Expression) extends StringArgument {
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any =
    TextHashImpl.fingerprint(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextHashImpl.fingerprint($t)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintHash =
    copy(child = newChild)
  override def prettyName: String = "fingerprint_hash"
}
