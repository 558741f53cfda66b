package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled body behind [[NfcNormalize]] — called from generated code.
  *
  * Unicode NFC (canonical composition) via the JDK's
  * `java.text.Normalizer`: the Unicode standard fully specifies the
  * mapping, so the result is engine-portable — DuckDB's
  * `nfc_normalize` produces byte-identical output, which is what makes
  * the operator oracle-gateable. The `isNormalized` fast path skips
  * the allocation for the (dominant at corpus scale) already-composed
  * case: crawled text is mostly NFC already, and the quick-check walk
  * is a single pass with no copy. */
object TextNormImpl {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** `nfc_normalize(text)` → NFC-composed string.
  *
  * Text normalization is the first step of every curation pipeline —
  * exact dedup keys, shingle hashes, and token counts all diverge if
  * `é` appears both composed (U+00E9) and decomposed (U+0065 U+0301)
  * in the corpus. Quokka leaves this to its Polars/DuckDB UDF layer;
  * here it is a codegen'd Catalyst expression so normalization stays
  * inside the scan's whole-stage-codegen span (reference surface:
  * `/root/reference/pyquokka/datastream.py` `with_columns` string
  * transforms). */
/** Compiled body behind [[NormalizeDocText]]: ONE byte walk producing
  * exactly `trim(regexp_replace(regexp_replace(lower(text),
  * "[^a-z0-9 ]", " "), " +", " "))` — the q73 dedup-normalization
  * contract. Every codepoint outside [a-z0-9] acts as a separator
  * (the two-regex form maps each such CHARACTER to one space, then
  * collapses space runs and trims — a pending-separator flag
  * reproduces that composition without materializing either
  * intermediate string). Kept chars are pure ASCII, so the output
  * buffer never exceeds the lowered input's byte length.
  *
  * Why compiled: the regex pair was q73's entire 10×-soak growth —
  * the Q73Probe stage split measured the two-pass java.util.regex
  * projection at 0.40→1.72 s for 1.5→14.9 MB of text while the
  * md5+window dedup underneath stayed flat. */
object NormalizeDocTextImpl {
  def normalize(text: UTF8String): UTF8String = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var pending = false
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xFF
      // multi-byte codepoints are never [a-z0-9]: one separator each
      val len =
        if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4
      if (len == 1 &&
          ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9'))) {
        if (pending && o > 0) { out(o) = ' '; o += 1 }
        out(o) = b.toByte; o += 1
        pending = false
      } else pending = true
      i += len
    }
    UTF8String.fromBytes(out, 0, o)
  }
}

/** `normalize_doc_text(text)` → dedup-normalized string (lowercase,
  * non-alphanumerics to single spaces, trimmed) as a codegen'd
  * expression — see [[NormalizeDocTextImpl]]. */
case class NormalizeDocText(child: Expression) extends StringArgument {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    NormalizeDocTextImpl.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NormalizeDocTextImpl.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeDocText =
    copy(child = newChild)
  override def prettyName: String = "normalize_doc_text"
}

case class NfcNormalize(child: Expression) extends StringArgument {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextNormImpl.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNormImpl.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}
