package graft

import graft.plans.SmallInputCoalesce
import graft.queries.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pins [[SmallInputCoalesce]]: a grouped aggregate, a window, a rank
  * filter and a global sort over an input below AQE's one-partition
  * floor plan no shuffle and run as one job; an input above the floor,
  * reading relations above it or below a `Generate`, a global aggregate
  * or window, an input two nodes share, AQE or its coalescing switched
  * off, and a streaming plan keep their exchanges; and results equal
  * the rule-less plan's. */
class SmallInputCoalesceSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  /** `body` with the rule taken out of the session's optimizer. Build
    * the DataFrames first: `Tables.t` registers the rule again. */
  private def withoutRule[T](body: => T): T = {
    val ex = spark.experimental
    val prev = ex.extraOptimizations
    ex.extraOptimizations = prev.filterNot(_ eq SmallInputCoalesce)
    try body finally ex.extraOptimizations = prev
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def orders = Tables.orders(spark, sf())

  private val byPrice = Window.partitionBy(col("o_custkey"))
    .orderBy(col("o_totalprice").desc, col("o_orderkey"))

  /** One query per node type the rule handles, over fixture input. */
  private def shapes: Seq[(String, () => DataFrame)] = Seq(
    "aggregate" -> (() => orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), max("o_totalprice").as("top"))),
    "window" -> (() => orders.withColumn("run", sum("o_totalprice").over(byPrice))
      .select("o_orderkey", "run")),
    "rank filter" -> (() => orders.withColumn("rk", row_number().over(byPrice))
      .filter(col("rk") <= 2).select("o_custkey", "o_orderkey", "rk")),
    "global sort" -> (() => orders.select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice"), col("o_orderkey"))))

  shapes.foreach { case (name, build) =>
    test(s"a fixture-sized $name plans no shuffle and runs as one job") {
      val df = build()
      assert(df.queryExecution.optimizedPlan.collect {
        case r @ Repartition(1, false, _) => r
      }.size == 1)
      assert(jobsDuring(df.collect()) == 1)
      assert(shuffles(df.queryExecution.executedPlan).isEmpty,
        df.queryExecution.executedPlan.toString)
      val plain = build()
      withoutRule {
        assert(rows(plain) == rows(df))
        assert(shuffles(plain.queryExecution.executedPlan).nonEmpty)
      }
    }
  }

  test("the rank filter's WindowGroupLimit reads the one partition too") {
    val plan = shapes.toMap.apply("rank filter")().queryExecution.executedPlan
    assert(collect(plan) {
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }.nonEmpty, plan.toString)
    assert(shuffles(plan).isEmpty, plan.toString)
  }

  test("an input above the floor keeps its hash and range exchanges") {
    val df = spark.range(0, 50000000L)
      .groupBy((col("id") % 1000).as("k")).count().orderBy("k")
    assert(df.queryExecution.optimizedPlan.collect { case r: Repartition => r }
      .isEmpty)
    val parts = shuffles(df.queryExecution.executedPlan).map(_.outputPartitioning)
    assert(parts.exists(_.isInstanceOf[HashPartitioning]), parts)
    assert(parts.exists(_.isInstanceOf[RangePartitioning]), parts)
  }

  test("an input below a Generate is not sized and keeps its exchange") {
    // Spark sizes an explode's output as one row per input row
    val df = Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("w")).groupBy("w").count()
    assert(df.queryExecution.optimizedPlan.collect { case r: Repartition => r }
      .isEmpty)
    assert(shuffles(df.queryExecution.executedPlan).nonEmpty)
  }

  test("a global aggregate or unpartitioned window keeps its one-reducer exchange") {
    // AQE already runs these on one reducer: a coalesce would only make
    // the scan and the partial aggregate serial
    Seq(orders.agg(count(lit(1)), max("o_totalprice")),
        orders.withColumn("rk", rank().over(Window.orderBy(col("o_totalprice"))))
    ).foreach { df =>
      assert(df.queryExecution.optimizedPlan.collect { case r: Repartition => r }
        .isEmpty, df.queryExecution.optimizedPlan.toString)
      assert(shuffles(df.queryExecution.executedPlan).nonEmpty)
    }
  }

  test("the relations read below the node, not only its input, must be under the floor") {
    // one narrow column of orders: the planner sizes the sort's input by
    // its row width, a fraction of the file bytes the scan reads
    def build() = orders.select("o_orderkey").orderBy("o_orderkey")
    val plain = build()
    val input = withoutRule(plain.queryExecution.optimizedPlan).children.head
    val (estimate, read) = (input.stats.sizeInBytes,
      input.collectLeaves().map(_.stats.sizeInBytes).sum)
    assert(estimate < read, s"$estimate >= $read")
    def coalesces(floor: BigInt): Boolean =
      withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", s"${floor}b") {
        build().queryExecution.optimizedPlan.collect { case r: Repartition => r }.nonEmpty
      }
    assert(!coalesces(estimate))
    assert(coalesces(read))
  }

  test("an input two nodes read keeps the exchange that reuse shares") {
    // aucExact's cardinality guard aggregates the same per-score groups
    // twice; ReuseExchange makes that one scan, two coalesces two
    val scored = orders.select(round(col("o_totalprice") / 1000).as("s"),
      (col("o_orderkey") % 2).as("y"))
    val df = graft.agg.Eval.aucExact(scored, "s", "y")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("ReusedExchange"), plan)
  }

  Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled").foreach { key =>
    test(s"$key=false leaves the plan unchanged") {
      withConf(key, "false") {
        shapes.foreach { case (name, build) =>
          val got = build().queryExecution.optimizedPlan
          val rebuilt = build()
          val plain = withoutRule(rebuilt.queryExecution.optimizedPlan)
          assert(got.collect { case r: Repartition => r }.isEmpty, name)
          assert(got.canonicalized == plain.canonicalized, name)
        }
      }
    }
  }

  test("a complete-mode streaming aggregate with a sort keeps its state exchange") {
    // a file source: its micro-batch relation is sized by its files, so
    // only the streaming check keeps the rule off
    val dir = java.nio.file.Files.createTempDirectory("small-input-stream").toString
    spark.range(1, 21).toDF("value").write.mode("overwrite").parquet(dir)
    val q = spark.readStream.schema("value LONG").parquet(dir)
      .groupBy((col("value") % 3).as("k")).count().orderBy("k")
      .writeStream.format("memory").queryName("small_input_coalesce_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(collect(plan) { case s: StateStoreSaveExec => s }.size == 1)
      assert(shuffles(plan).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
        plan.toString)
      assert(!plan.toString.contains("Coalesce"), plan.toString)
      assert(rows(spark.table("small_input_coalesce_stream")) ==
        Seq("[0,6]", "[1,7]", "[2,7]"))
    } finally q.stop()
    // a running query's session has AQE off; the rule itself also leaves
    // any streaming plan alone, here an empty (0-byte) streaming input
    val v = AttributeReference("v", LongType)()
    val agg = Aggregate(Seq(v), Seq(v), LocalRelation(Seq(v), Nil, isStreaming = true))
    assert(SmallInputCoalesce(agg) eq agg)
  }

  test("orderBy.limit still plans TakeOrderedAndProject") {
    val df = orders.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(5)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1,
      plan.toString)
    val plain = orders.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(5)
    assert(df.collect().toSeq == withoutRule(plain.collect().toSeq))
  }

  test("results equal the rule-less plan as multisets, sort-key ties included") {
    // 7 keys and 5 values over 200 rows: every sort key and every rank
    // is tied many times over
    def input = spark.range(0, 200)
      .select((col("id") % 7).as("k"), (col("id") % 5).as("v"), col("id"))
    val byV = Window.partitionBy(col("k")).orderBy(col("v"))
    // (name, query, whether the rule drops its shuffles)
    val queries: Seq[(String, () => DataFrame, Boolean)] = Seq(
      ("aggregate", () => input.groupBy("k").agg(sum("v"), countDistinct("v")), true),
      ("window", () => input.withColumn("r", rank().over(byV))
        .withColumn("s", sum("v").over(byV)), true),
      ("rank filter", () => input.withColumn("r", dense_rank().over(byV))
        .filter(col("r") <= 2), true),
      ("global window", () => input.withColumn("r", rank().over(
        Window.orderBy(col("v")))), false),
      ("global sort", () => input.orderBy("v"), true),
      ("sorted aggregate", () => input.groupBy("v").count().orderBy("count"), true))
    queries.foreach { case (name, build, fires) =>
      val (df, plain) = (build(), build())
      assert(rows(df) == withoutRule(rows(plain)), name)
      assert(shuffles(df.queryExecution.executedPlan).isEmpty == fires, name)
      assert(withoutRule(shuffles(plain.queryExecution.executedPlan)).nonEmpty, name)
    }
    val sortedVs = input.orderBy("v").collect().map(_.getLong(1)).toSeq
    assert(sortedVs == sortedVs.sorted)
  }

  test("register twice installs one rule instance") {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    graft.functions.GraftFunctions.register(s)
    assert(s.experimental.extraOptimizations.count(_ eq SmallInputCoalesce) == 1)
    assert(spark.experimental.extraOptimizations.count(_ eq SmallInputCoalesce) == 1)
  }
}
