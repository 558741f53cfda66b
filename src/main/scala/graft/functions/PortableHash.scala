package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled loop behind [[PortableHash]] — called from generated code
  * (static forwarder), one tight JVM loop per string instead of an
  * interpreted expression-tree node per character. */
object PortableHashImpl {
  final val P = 1000000007L
  final val B = 31L
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * B + cp) % P
      i += Character.charCount(cp)
    }
    h
  }
}

/** Native Catalyst expression for the portable polynomial string hash
  * (fold of h*31+codepoint mod 1e9+7 — same values as
  * `graft.text.TextOps.portableHash`'s higher-order-function form and the
  * DuckDB oracle's `list_reduce`/`unicode` form, for all code points).
  *
  * This is the custom-Expression tier of SURVEY §7.3: the hash sits
  * inside per-token/per-shingle lambdas on the dedup hot path, where
  * higher-order functions are interpreted — a codegen'd scalar turns the
  * per-character expression-tree walk into one compiled loop.
  * Registered as SQL function `portable_hash` by [[GraftFunctions]]. */
case class PortableHash(child: Expression) extends StringArgument {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PortableHashImpl.hash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableHashImpl.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): PortableHash =
    copy(child = newChild)
  override def prettyName: String = "portable_hash"
}
