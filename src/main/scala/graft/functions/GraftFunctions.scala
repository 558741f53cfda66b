package graft.functions

import graft.plans.SmallInputCoalesce
import graft.sources.LocalFileBinding
import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.StringType
import scala.reflect.{ClassTag, classTag}

/** One graft SQL function: its name, the expression class its
  * `ExpressionInfo` names, how many arguments it takes, and a builder
  * over exactly that many. */
final case class GraftFunction(name: String, cls: Class[_], arity: Int,
    build: Seq[Expression] => Expression) {
  // one instance each, so a second `register` finds the same pair in the
  // registry and does not log a replacement
  val info: ExpressionInfo = new ExpressionInfo(cls.getCanonicalName, name)

  /** The builder both session paths register: any other argument count
    * raises a typed `AnalysisException` before `build` runs. */
  val builder: Seq[Expression] => Expression = children => {
    if (children.length != arity)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
        "actualNum" -> children.length.toString,
        "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
    build(children)
  }
}

/** A graft function of one string argument: any other argument type
  * fails analysis. */
trait StringArgument extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
}

/** Session-level setup for graft: the SQL functions of [[table]], the
  * fork-free `file:` binding ([[graft.sources.LocalFileBinding]]), the
  * [[graft.plans.SmallInputCoalesce]] optimizer rule, and two existing
  * Spark confs that keep Spark's JVM-wide cache of generated classes
  * (`CodeGenerator.cache`, keyed by class loader and source) warm across
  * repeated queries. A value the caller set for either conf wins.
  *  - `spark.sql.artifact.isolation.enabled` is set to `false`. With it
  *    on, the executor gives every session UUID its own class loader, and
  *    `writeStream.start()` clones the session, so each streaming run
  *    compiled its task-side classes again (14 per q100 run), and those
  *    dead-loader entries evicted live ones. Graft adds no session
  *    artifacts, and the clones inherit the conf.
  *  - `spark.sql.codegen.cache.maxEntries` is 1000 instead of 100: the
  *    five perfbench `pipelines` queries alone need about 120 classes.
  *    `CodeGenerator` reads this static conf once, when it loads, so
  *    `register` loads it under a clone of the session conf that holds
  *    the size; the session's own conf does not change. First touch
  *    wins: if anything in the JVM generated code before the first
  *    `register`, the cache keeps the size it was built with.
  *
  * Idempotent; call once per SparkSession, before anything touches its
  * session state (QContext, Tables.t, Verify, Bench and the specs all
  * do). */
object GraftFunctions {
  /** Cache entries when the caller left the size unset: at about 8 KB of
    * class metadata each, 1000 bounds the cache near 8 MB. */
  private val CodegenCacheEntries = 1000

  private def fn1[E <: Expression: ClassTag](name: String, make: Expression => E) =
    GraftFunction(name, classTag[E].runtimeClass, 1, c => make(c(0)))
  private def fn2[E <: Expression: ClassTag](name: String,
      make: (Expression, Expression) => E) =
    GraftFunction(name, classTag[E].runtimeClass, 2, c => make(c(0), c(1)))
  private def fn3[E <: Expression: ClassTag](name: String,
      make: (Expression, Expression, Expression) => E) =
    GraftFunction(name, classTag[E].runtimeClass, 3, c => make(c(0), c(1), c(2)))

  /** Every graft SQL function, for [[register]] and [[GraftExtensions]]
    * alike. */
  val table: Seq[GraftFunction] = Seq(
    fn1("portable_hash", PortableHash(_)),
    fn1("dsum128", DSum128(_)),
    fn1("text_metrics", TextMetrics(_, graft.text.TextOps.langStopwords.map(_._2))),
    fn1("fingerprint_hash", FingerprintHash(_)),
    fn1("tokens_of", TokensOf(_)),
    fn1("nfc_normalize", NfcNormalize(_)),
    fn1("normalize_doc_text", NormalizeDocText(_)),
    fn2("graft_dot", DotProduct(_, _)),
    fn2("bpe_count", BpeCount(_, _)),
    fn2("bpe_merge_batch", BpeMergeBatch(_, _)),
    fn2("shingle_hashes", ShingleHashes(_, _)),
    fn2("ngram_hashes", NgramHashesMulti(_, _)),
    fn2("minhash_from_hashes", MinhashFromHashes(_, _)),
    fn2("simhash_hash", SimhashHash(_, _)),
    fn2("dup_ngram_fracs", DupNgramFracs(_, _)),
    fn3("rouge_overlap", RougeOverlap(_, _, _)),
    fn3("token_windows", TokenWindows(_, _, _)),
    fn3("ed_freq_gate", EdFreqGate.fromArgs(_, _, _)),
    fn3("winnow_fingerprints", WinnowFingerprints(_, _, _)),
    // Spark's runtime-filter bloom build/probe pair, which has no SQL
    // surface of its own; the aggregate ORs per-partition sketches, so
    // the built filter is partition-order independent
    fn3("bloom_agg", new BloomFilterAggregate(_, _, _)),
    fn2("bloom_might_contain", BloomFilterMightContain(_, _)))

  def register(spark: SparkSession): Unit = {
    // first: the session state copies this conf, and the first `file:`
    // FileSystem built from it stays in Hadoop's JVM-wide cache
    LocalFileBinding.install(spark.sparkContext.hadoopConfiguration)
    shareGeneratedClasses(spark)
    SmallInputCoalesce.setup(spark)
    table.foreach(f => spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(f.name), f.info, f.builder))
  }

  /** The two code-generation settings of the object doc, each only where
    * the caller left it unset. */
  private def shareGeneratedClasses(spark: SparkSession): Unit = {
    val conf = spark.sessionState.conf
    val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key
    if (!conf.contains(isolation)) spark.conf.set(isolation, "false")
    val maxEntries = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (!conf.contains(maxEntries)) {
      val sized = conf.clone()
      sized.setConfString(maxEntries, CodegenCacheEntries.toString)
      // any member access initializes `CodeGenerator`, and so builds its
      // cache, unless that already happened
      SQLConf.withExistingConf(sized)(CodeGenerator.compileTime)
    }
  }
}

/** `SparkSessionExtensions` hook, the deployment-idiomatic registration:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` gives
  * every session the functions of [[GraftFunctions.table]], the
  * [[graft.plans.SmallInputCoalesce]] rule (in the pre-CBO batch) and
  * the fork-free `file:` binding, which the rule's builder installs on
  * the SparkContext's Hadoop conf. `graft.ts.AsofJoin` installs its
  * planner strategy in any session on first use. The two
  * code-generation settings of [[GraftFunctions]] are left out: they
  * read and write the session conf, which the hook cannot touch while
  * the session state is being built. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
    e.injectPreCBORule { s =>
      LocalFileBinding.install(s.sparkContext.hadoopConfiguration)
      SmallInputCoalesce
    }
  }
}
