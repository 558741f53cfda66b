package graft

import graft.api.QContext
import graft.functions.GraftExtensions
import graft.udx.Aggregators.WelfordMeanVar
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Extension points: custom Aggregator + REST source. */
class UdxSpec extends SparkSpecBase {

  test("WelfordMeanVar agrees with built-in avg/var_pop across partitions") {
    val s = spark
    import s.implicits._
    val xs = (1 to 1000).map(i => (i * 37 % 97).toDouble)
    val ds = s.createDataset(xs).repartition(7)
    val got = ds.select(WelfordMeanVar.toColumn).head()
    val ref = ds.toDF("x").agg(avg("x"), var_pop("x")).head()
    assert(math.abs(got.mean - ref.getDouble(0)) < 1e-9)
    assert(math.abs(got.variance - ref.getDouble(1)) < 1e-9)
    assert(got.n == 1000L)
  }

  test("WelfordMeanVar registers as a SQL udaf") {
    val s = spark
    import s.implicits._
    s.udf.register("meanvar", udaf(WelfordMeanVar))
    Seq(1.0, 2.0, 3.0).toDF("x").createOrReplaceTempView("t_mv")
    val r = s.sql("SELECT meanvar(x) AS mv FROM t_mv").select("mv.mean", "mv.variance").head()
    assert(r.getDouble(0) == 2.0 && math.abs(r.getDouble(1) - 2.0 / 3) < 1e-12)
  }

  test("GraftExtensions wires portable_hash into SparkSessionExtensions") {
    // a fresh session sees portable_hash only through the hook: `register`
    // wrote to the shared session's own registry, not to a new one's
    spark // `register` sizes the code cache before any other session compiles
    val plain = spark.newSession()
    intercept[org.apache.spark.sql.AnalysisException](plain.sql("SELECT portable_hash('abc')"))
    // `create()` makes the new session the active and default one
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val hooked =
      try SparkSession.builder().withExtensions(e => new GraftExtensions().apply(e)).create()
      finally {
        active.foreach(SparkSession.setActiveSession)
        default.foreach(SparkSession.setDefaultSession)
      }
    val h = hooked.sql("SELECT portable_hash('abc') AS h").head().getLong(0)
    val expect = "abc".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    assert(h == expect)
  }

  test("readRest pulls paginated JSON until exhaustion") {
    val qc = new QContext(spark)
    val pages = Map(
      0 -> """{"id": 1, "px": 10.5}
             |{"id": 2, "px": 11.0}""".stripMargin,
      1 -> """{"id": 3, "px": 12.0}""")
    val d = qc.readRest(i => pages.get(i))
    assert(d.count() == 3)
    assert(d.df.agg(sum("px")).head().getDouble(0) == 33.5)
  }

  test("withRetry: exponential backoff, bounded attempts, fast-fail") {
    import graft.api.QContext
    // recovers: two 429s then success; sleeps double 8 → 16
    var sleeps = Vector.empty[Long]
    var calls = 0
    val flaky = QContext.withRetry({ _: Int =>
      calls += 1
      if (calls <= 2) throw new QContext.TransientHttpError(429, "slow down")
      Some("ok")
    }, maxRetries = 2, backoffMs = 8L, QContext.defaultTransient,
      sleeps :+= _)
    assert(flaky(0) === Some("ok") && sleeps === Vector(8L, 16L))

    // exhaustion: the LAST transient error propagates, attempts = 1+max
    var n = 0
    val dead = QContext.withRetry({ _: Int =>
      n += 1; throw new QContext.TransientHttpError(503, s"try $n")
    }, maxRetries = 2, backoffMs = 0L, QContext.defaultTransient, _ => ())
    val e = intercept[QContext.TransientHttpError] { dead(0) }
    assert(e.getMessage === "try 3" && n === 3)

    // permanent errors never retry, never sleep
    var slept = false
    var m = 0
    val perm = QContext.withRetry({ _: Int =>
      m += 1; throw new IllegalStateException("bad auth")
    }, maxRetries = 5, backoffMs = 8L, QContext.defaultTransient,
      _ => slept = true)
    intercept[IllegalStateException] { perm(0) }
    assert(m === 1 && !slept)
  }

  test("TopKByScore: equals window rank, skew-proof plan, short groups") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // one hot key (80% of rows), score ties inside it
    val df = (1L to 500L).map { i =>
      val key = if (i % 5 == 0) s"k${i % 7}" else "hot"
      (key, (i % 11).toDouble, i)
    }.toDF("key", "score", "id")
    val viaAgg = graft.udx.Aggregators
      .topKPerKey(df.repartition(8), Seq("key"), "score", "id", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val viaWin = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 4)
      .select("key", "rank", "id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(viaAgg == viaWin)
    // bounded state aggregates, no window/sort of the full data
    val plan = graft.udx.Aggregators
      .topKPerKey(df, Seq("key"), "score", "id", 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"),
      s"expected a partial ObjectHashAggregate, no Window, in:\n$plan")
    // groups smaller than k emit all their rows
    val tiny = Seq(("a", 1.0, 1L), ("a", 2.0, 2L)).toDF("key", "score", "id")
    assert(graft.udx.Aggregators
      .topKPerKey(tiny, Seq("key"), "score", "id", 5).count() == 2)
  }
}
