package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Repeated queries reuse Spark's generated classes instead of compiling
  * them again: `GraftFunctions.register` turns off per-session artifact
  * class loaders, so a streaming query's cloned session compiles under
  * the executor's one loader, and sizes `CodeGenerator`'s JVM-wide cache
  * past the working set of the perfbench `pipelines` mix. Compiles are
  * counted as the delta of `CodegenMetrics.METRIC_COMPILATION_TIME`,
  * which Janino compiles update and cache hits do not. The cache is
  * sized when `CodeGenerator` loads, so every test touches `spark`
  * (which registers) before it counts or reflects on `CodeGenerator`. */
class CodegenReuseSpec extends SparkSpecBase {
  private val pipelines = Seq("q190_setsim_join", "q157_bm25",
    "q100_streaming_tumbling", "q208_stream_upsert", "q86_csv_roundtrip")

  private def compilesDuring(body: => Unit): Long = {
    spark
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def run(q: String): Unit = Bench.force(SparkEntry.queries(q)(spark, sf()))

  test("a second q100 run compiles no class") {
    run("q100_streaming_tumbling")
    assert(compilesDuring(run("q100_streaming_tumbling")) == 0)
  }

  test("a second cycle over the pipelines queries compiles no class") {
    compilesDuring(pipelines.foreach(run))
    assert(compilesDuring(pipelines.foreach(run)) == 0)
  }

  test("register keeps an artifact isolation the caller set") {
    val key = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key
    val set = spark.newSession()
    set.conf.set(key, "true")
    graft.functions.GraftFunctions.register(set)
    assert(set.conf.get(key) == "true")
    val unset = spark.newSession()
    graft.functions.GraftFunctions.register(unset)
    assert(unset.conf.get(key) == "false")
  }

  /** `obj`'s field `name`, declared by its class or a superclass. */
  private def field(obj: AnyRef, name: String): AnyRef = {
    val f = Iterator.iterate[Class[_]](obj.getClass)(_.getSuperclass)
      .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == name).get
    f.setAccessible(true)
    f.get(obj)
  }

  test("register twice keeps one code cache of 1000 and the session's cache size") {
    spark
    val cache = field(CodeGenerator, "cache")
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(spark.newSession())
    assert(field(CodeGenerator, "cache") eq cache)
    // NonFateSharingCache → Guava LocalLoadingCache → LocalCache
    assert(field(field(field(cache, "cache"), "localCache"), "maxWeight") == 1000L)
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    assert(spark.conf.get(key) == StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValueString)
  }
}
