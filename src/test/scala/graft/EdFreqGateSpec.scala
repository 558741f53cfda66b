package graft

import graft.functions.EdFreqGateImpl
import org.apache.spark.sql.AnalysisException
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the char-frequency count filter's LOSSLESSNESS contract: no
  * pair within the edit-distance bound may ever fail the gate (the gate
  * runs before the banded Levenshtein DP in EntityResolution/EdJoin, so
  * a false negative would silently drop a match edge). */
class EdFreqGateSpec extends AnyFunSuite {
  private def gate(a: String, b: String, cap: Int): Boolean =
    EdFreqGateImpl.pass(UTF8String.fromString(a), UTF8String.fromString(b),
      cap)

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("no pair within the edit bound fails the gate (randomized)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefgh "
    def randStr(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    for (tau <- 1 to 3; _ <- 1 to 2000) {
      val a = randStr(4 + rnd.nextInt(20))
      val b = randStr(4 + rnd.nextInt(20))
      if (lev(a, b) <= tau)
        assert(gate(a, b, 2 * tau), s"lossless violated: '$a' vs '$b' tau=$tau")
    }
  }

  test("edited strings within tau always pass") {
    val rnd = new scala.util.Random(7)
    val base = "the quick brown fox jump"
    for (_ <- 1 to 2000) {
      val tau = 1 + rnd.nextInt(3)
      var s = base
      for (_ <- 1 to tau) {
        val op = rnd.nextInt(3)
        val p = rnd.nextInt(s.length)
        s = op match {
          case 0 => s.updated(p, ('a' + rnd.nextInt(26)).toChar) // sub
          case 1 => s.take(p) + s.drop(p + 1)                    // del
          case _ => s.take(p) + ('a' + rnd.nextInt(26)).toChar + s.drop(p) // ins
        }
      }
      assert(gate(base, s, 2 * tau))
    }
  }

  test("far pairs are pruned; non-ASCII passes through") {
    assert(!gate("aaaaaaaaaaaa", "zzzzzzzzzzzz", 4))
    assert(!gate("abcdefgh", "stuvwxyz", 4))
    // non-ASCII bytes: the byte histogram is not a char histogram, so
    // the gate must pass the pair through to the exact DP
    assert(gate("café latte aaa", "zzzzzzzzzzz", 2))
    assert(gate("aaaaaaaa", "ézzzzzzz", 2))
    // identical and near strings pass
    assert(gate("same", "same", 0))
    assert(gate("same", "sane", 2))
  }

  // SQL-surface argument checks: every bad argument list is a typed
  // AnalysisException at analysis, never a ClassCastException,
  // IndexOutOfBoundsException or NPE from the builder
  private lazy val spark = SharedSpark.spark

  private def analysisError(sql: String): AnalysisException =
    intercept[AnalysisException](spark.sql(sql).collect())

  test("wrong arity is a typed AnalysisException") {
    Seq("SELECT ed_freq_gate('ab', 'ab')",
        "SELECT ed_freq_gate('ab')",
        "SELECT ed_freq_gate('ab', 'ab', 2, 3)").foreach { q =>
      assert(analysisError(q).getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", q)
    }
  }

  test("a non-foldable cap is a typed AnalysisException") {
    val e = analysisError("SELECT ed_freq_gate(a, b, c) " +
      "FROM VALUES ('ab', 'ab', 2) AS t(a, b, c)")
    assert(e.getCondition == "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT")
  }

  test("a non-integral cap is a typed AnalysisException") {
    Seq("2.5", "2.5D", "'2'", "true").foreach { cap =>
      val e = analysisError(s"SELECT ed_freq_gate('ab', 'ab', $cap)")
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", cap)
    }
  }

  test("a null cap is a typed AnalysisException") {
    val e = analysisError("SELECT ed_freq_gate('ab', 'ab', CAST(NULL AS INT))")
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_NULL")
    // an untyped NULL has no integral type at all
    analysisError("SELECT ed_freq_gate('ab', 'ab', NULL)")
  }

  test("a cap outside [0, Int.MaxValue] is a typed AnalysisException") {
    Seq("-1", "2147483648L").foreach { cap =>
      val e = analysisError(s"SELECT ed_freq_gate('ab', 'ab', $cap)")
      assert(e.getCondition == "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", cap)
    }
  }

  test("Int and Long literal caps are both accepted") {
    import org.apache.spark.sql.functions.{call_function, lit}
    val r = spark.sql("SELECT ed_freq_gate('abcd', 'abce', 2), " +
      "ed_freq_gate('abcd', 'abce', 2L), ed_freq_gate('abcd', 'wxyz', 4L), " +
      "ed_freq_gate('abcd', 'abce', CAST(2 AS SMALLINT))").head()
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2) &&
      r.getBoolean(3))
    val df = spark.range(1).select(
      call_function("ed_freq_gate", lit("abcd"), lit("abce"), lit(2L)))
    assert(df.head().getBoolean(0))
  }
}
