package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType,
  IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled loop behind [[EdFreqGate]]: the exact character-frequency
  * (count-filter) prune for bounded edit distance. One edit operation
  * (substitute / insert / delete) changes the L1 distance between two
  * strings' character-frequency vectors by at most 2, so
  * `ed(a, b) ≤ τ ⟹ Σ_c |freq_a(c) − freq_b(c)| ≤ 2τ` — a pair failing
  * the bound can be dropped WITHOUT running the banded Levenshtein DP,
  * and no true pair is ever dropped (lossless). The histogram is over
  * BYTES, valid as a character histogram only for pure-ASCII input, so
  * any non-ASCII byte short-circuits to `true` (pass through to the DP)
  * rather than risk an approximate bound on multi-byte code points. */
object EdFreqGateImpl {
  def pass(a: UTF8String, b: UTF8String, cap: Int): Boolean = {
    val ab = a.getBytes; val bb = b.getBytes
    val counts = new Array[Int](128)
    var i = 0
    while (i < ab.length) {
      val x = ab(i); if (x < 0) return true
      counts(x) += 1; i += 1
    }
    i = 0
    while (i < bb.length) {
      val x = bb(i); if (x < 0) return true
      counts(x) -= 1; i += 1
    }
    var d = 0; var c = 0
    while (c < 128) { val v = counts(c); d += (if (v < 0) -v else v); c += 1 }
    d <= cap
  }
}

/** `ed_freq_gate(a, b, cap)` → boolean: true iff the L1 distance between
  * the strings' char-frequency vectors is ≤ cap (or either string has
  * non-ASCII bytes — pass-through). Run with cap = 2·maxDist BEFORE a
  * bounded `levenshtein(a, b, maxDist)` to prune candidate pairs at a
  * fraction of the DP's cost (r17 verdict item 4; guide step-2 per-task
  * work). Registered by [[GraftFunctions]]. */
case class EdFreqGate(left: Expression, right: Expression, cap: Int)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ed_freq_gate requires two string arguments, got " +
        s"(${left.dataType}, ${right.dataType})")
  override def nullSafeEval(a: Any, b: Any): Any =
    EdFreqGateImpl.pass(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], cap)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.EdFreqGateImpl.pass($a, $b, $cap)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): EdFreqGate =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "ed_freq_gate"
}

object EdFreqGate {
  /** The SQL builder: `ed_freq_gate(a, b, cap)` with `cap` a non-null,
    * foldable integral value in [0, Int.MaxValue] (Int and Long literals
    * both accepted). Any other cap raises a typed `AnalysisException` at
    * analysis time; [[GraftFunction]] checks the argument count. */
  def fromArgs(left: Expression, right: Expression, capExpr: Expression): EdFreqGate = {
    def fail(errorClass: String, params: (String, String)*): Nothing =
      throw new AnalysisException(errorClass, params.toMap)
    val sqlExpr =
      "\"ed_freq_gate(" + Seq(left, right, capExpr).map(_.sql).mkString(", ") + ")\""
    val intOrBigint = "(\"INT\" or \"BIGINT\")"
    if (!capExpr.foldable)
      fail("DATATYPE_MISMATCH.NON_FOLDABLE_INPUT", "sqlExpr" -> sqlExpr,
        "inputName" -> "`cap`", "inputType" -> intOrBigint,
        "inputExpr" -> ("\"" + capExpr.sql + "\""))
    capExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other =>
        fail("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", "sqlExpr" -> sqlExpr,
          "paramIndex" -> "third", "requiredType" -> intOrBigint,
          "inputSql" -> ("\"" + capExpr.sql + "\""),
          "inputType" -> ("\"" + other.sql + "\""))
    }
    val cap = capExpr.eval() match {
      case null =>
        fail("DATATYPE_MISMATCH.UNEXPECTED_NULL", "sqlExpr" -> sqlExpr,
          "exprName" -> "`cap`")
      case n: Number => n.longValue
    }
    if (cap < 0 || cap > Int.MaxValue)
      fail("DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", "sqlExpr" -> sqlExpr,
        "exprName" -> "`cap`", "valueRange" -> s"[0, ${Int.MaxValue}]",
        "currentValue" -> cap.toString)
    EdFreqGate(left, right, cap.toInt)
  }
}
