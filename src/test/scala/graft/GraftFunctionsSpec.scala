package graft

import graft.api.OrderedStream
import graft.functions.{GraftExtensions, GraftFunctions}
import graft.plans.{AsofJoinExec, AsofJoinStrategy, SmallInputCoalesce}
import graft.ts.AsofJoin
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** One registration table drives both session paths. A `register`ed
  * session and an extensions-only one (`spark.sql.extensions`, here
  * `withExtensions`) give every function of [[GraftFunctions.table]] the
  * same value, raise the same typed errors for a wrong argument count or
  * type, and plan the same `SmallInputCoalesce` coalesces and
  * `AsofJoinExec`. */
class GraftFunctionsSpec extends SparkSpecBase {
  /** A correct argument list per function, over `range(3)`'s `id`. */
  private val args: Map[String, Seq[String]] = Map(
    "portable_hash" -> Seq("'abc'"),
    "dsum128" -> Seq("id"),
    "text_metrics" -> Seq("'the cat sat on the mat'"),
    "fingerprint_hash" -> Seq("'a b c'"),
    "tokens_of" -> Seq("'A b  c'"),
    "nfc_normalize" -> Seq("'é'"),
    "normalize_doc_text" -> Seq("' Hello,  World! '"),
    "graft_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
    "bpe_count" -> Seq("'hello world'", "array(concat('l', char(0), 'l'))"),
    "bpe_merge_batch" -> Seq("array('h', 'e', 'l', 'l', 'o')",
      "array(concat('l', char(0), 'l'))"),
    "shingle_hashes" -> Seq("'a b c d'", "2"),
    "ngram_hashes" -> Seq("'a b c d'", "2"),
    "minhash_from_hashes" -> Seq("array(1L, 2L, 3L)", "4"),
    "simhash_hash" -> Seq("'a b c d'", "2"),
    "dup_ngram_fracs" -> Seq("'a b a b a b'", "2"),
    "rouge_overlap" -> Seq("'a b c'", "'a b d'", "1"),
    "token_windows" -> Seq("'a b c d e'", "2", "1"),
    "ed_freq_gate" -> Seq("'abcd'", "'abce'", "2"),
    "winnow_fingerprints" -> Seq("'a b c d e f g'", "2", "2"),
    "bloom_agg" -> Seq("id", "100L", "1000L"),
    "bloom_might_contain" -> Seq("(SELECT bloom_agg(id, 100L, 1000L) FROM range(10))",
      "5L"))

  private def call(s: SparkSession, name: String, as: Seq[String]): DataFrame =
    s.sql(s"SELECT $name(${as.mkString(", ")}) AS v FROM range(3)")

  /** A session built with the hook alone: it shares the SparkContext but
    * never passes through `register`. `create()` makes it the active and
    * default session, so both are restored. */
  private lazy val extOnly: SparkSession = {
    spark // `register` sizes the code cache before any other session compiles
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    try SparkSession.builder().withExtensions(new GraftExtensions).create()
    finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  private def paths = Seq("register" -> spark, "extensions" -> extOnly)

  test("the table holds each function once, with its arity") {
    val table = GraftFunctions.table
    assert(table.map(_.name).distinct.size == table.size)
    assert(table.map(f => f.name -> f.arity).toMap == args.map { case (n, a) => n -> a.size })
    assert(table.groupBy(_.arity).map { case (a, fs) => a -> fs.size } ==
      Map(1 -> 7, 2 -> 9, 3 -> 5))
    assert(!extOnly.eq(spark))
  }

  test("every function gives the same non-null value under both paths") {
    GraftFunctions.table.foreach { f =>
      val Seq(reg, ext) = paths.map { case (_, s) => call(s, f.name, args(f.name)).collect().toSeq }
      assert(reg.nonEmpty && reg.forall(!_.isNullAt(0)), f.name)
      assert(reg == ext, f.name)
    }
  }

  test("a wrong argument count is WRONG_NUM_ARGS under both paths") {
    for (f <- GraftFunctions.table; (path, s) <- paths;
         as <- Seq(args(f.name).init, args(f.name) :+ args(f.name).last)) {
      val e = intercept[AnalysisException](call(s, f.name, as).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$path ${f.name}")
      assert(e.getMessage.contains(s"`${f.name}`") &&
        e.getMessage.contains(s"${f.arity} parameters"), e.getMessage)
    }
  }

  test("a wrongly typed first argument fails analysis under both paths, starting no job") {
    for (f <- GraftFunctions.table; (path, s) <- paths) {
      val jobs = jobsDuring {
        intercept[AnalysisException](call(s, f.name, "true" +: args(f.name).tail))
      }
      assert(jobs == 0, s"$path ${f.name}")
    }
  }

  /** The six query shapes `SmallInputCoalesce` coalesces, at sf0.01. */
  private val shapes = Seq(
    "grouped aggregate" ->
      "SELECT o_custkey, count(*) AS n, max(o_totalprice) AS top FROM gf_orders GROUP BY o_custkey",
    "count distinct" -> ("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n " +
      "FROM gf_orders GROUP BY o_orderstatus"),
    "rank filter" -> ("SELECT * FROM (SELECT o_custkey, o_orderkey, row_number() OVER " +
      "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM gf_orders) " +
      "WHERE rk <= 2"),
    "global sort" ->
      "SELECT o_orderkey, o_totalprice FROM gf_orders ORDER BY o_totalprice, o_orderkey",
    // an inner join's size estimate is the product of its sides'; a semi
    // join's is its left side's
    "join under an aggregate" -> ("SELECT o_orderstatus, sum(o_totalprice) AS s " +
      "FROM gf_orders LEFT SEMI JOIN gf_customer ON o_custkey = c_custkey " +
      "AND c_nationkey < 5 GROUP BY o_orderstatus"),
    "having" -> ("SELECT o_custkey, count(*) AS n FROM gf_orders GROUP BY o_custkey " +
      "HAVING count(*) > 1"))

  test("the extensions-only session coalesces small inputs where a registered one does") {
    val Seq(reg, ext) = paths.map { case (_, s) =>
      Seq("orders", "customer").foreach(t =>
        s.read.parquet(s"${sf("sf0.01")}/$t.parquet").createOrReplaceTempView(s"gf_$t"))
      shapes.map { case (_, q) => s.sql(q) }
    }
    assert(!extOnly.experimental.extraOptimizations.contains(SmallInputCoalesce))
    shapes.zip(reg.zip(ext)).foreach { case ((name, _), (r, e)) =>
      def coalesces(df: DataFrame) =
        df.queryExecution.optimizedPlan.collect { case p @ Repartition(1, false, _) => p }.size
      assert(coalesces(r) > 0, name)
      assert(coalesces(e) == coalesces(r), name)
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
      assert(rows(e) == rows(r), name)
    }
  }

  test("the extensions-only session plans one AsofJoinExec") {
    val s = extOnly
    def side(cols: String*) = new OrderedStream(s.range(6).selectExpr(cols: _*), "t")
    val joined = AsofJoin(side("id % 2 AS sym", "id AS t", "id * 10 AS px"),
      side("id % 2 AS sym", "id AS t", "id * 100 AS q"), "sym").df
    assert(s.experimental.extraStrategies.contains(AsofJoinStrategy))
    assert(joined.queryExecution.sparkPlan.collect { case j: AsofJoinExec => j }.size == 1)
    // columns: sym, t, px, t_right, q; each left row meets its own time
    assert(joined.collect().map(r => (r.getLong(1), r.getLong(4))).sorted.toSeq ==
      (0L until 6L).map(t => (t, t * 100)))
  }
}
