package graft.tools

import org.apache.spark.sql.SparkSession

/** Exchange-counting shared by PlanHygieneSpec (the pinned-shape test)
  * and the [[PlanCounts]] dev harness — one definition, so a regex fix
  * can't drift between the pin and the tool that records it. */
object PlanShape {
  private val shufflePat =
    ("Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning" +
      "|SinglePartition)").r
  private val broadcastPat = "BroadcastExchange".r
  /** (shuffle exchanges, broadcast exchanges) in a physical plan string. */
  def counts(plan: String): (Int, Int) =
    (shufflePat.findAllIn(plan).size, broadcastPat.findAllIn(plan).size)

  /** Node names that define a streaming query's stateful shape — what
    * PlanHygieneSpec pins for the six streaming gates (counted on the
    * UNSTARTED DataFrame's analyzed plan; zero-count names are kept so a
    * pin of 0 is explicit). */
  private val streamingShapeNodes = Seq(
    "EventTimeWatermark", "Aggregate", "FlatMapGroupsWithState",
    "Deduplicate", "DeduplicateWithinWatermark", "Join", "Union")
  def streamingNodeCounts(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val names = df.queryExecution.analyzed.collect { case n => n.nodeName }
    streamingShapeNodes.map(k => k -> names.count(_ == k)).toMap
  }
}

/** Dev harness: print (shuffle, broadcast) exchange counts of the
  * static physical plan for the queries PlanHygieneSpec pins, so the
  * expected values in the spec are recorded numbers, not guesses.
  * Run under the spec's exact session shape (local[4], 4 shuffle
  * partitions) — plan choice is config-sensitive. The pins are
  * at-scale shapes, so AQE's one-partition floor is one byte here, as
  * around the spec's static-plan build: `graft.plans.SmallInputCoalesce`
  * would otherwise drop every fixture-sized exchange. */
object PlanCounts {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("tpch02", "tpch03", "tpch07", "tpch09", "tpch21",
        "q36_highcard_agg", "q48_cep", "q55_ann_lsh", "q66_lsh_near_dup",
        "q68_ngram_jaccard", "q77_pagerank")
    val d = "/root/testdata/sf0.001"
    if (args.headOption.contains("--streaming")) {
      // record the UNSTARTED streaming gates' analyzed-plan node counts
      // (stateful operators + watermarks) for PlanHygieneSpec's pins
      import graft.queries.GateQueries._
      val gates = Seq(
        "q100_streaming_tumbling" -> q100Plan(spark, d),
        "q101_streaming_session" -> q101Plan(spark, d),
        "q104_streaming_asof" -> q104Plan(spark, d),
        "q105_streaming_asof_fwd" -> q105Plan(spark, d),
        "q108_streaming_hopping" -> q108Plan(spark, d),
        "q109_streaming_distinct" -> q109Plan(spark, d),
        "q128_streaming_cep" -> q128Plan(spark, d),
        "q148_streaming_dedup" -> q148Plan(spark, d),
        "q191_stream_stream_join" -> q191Plan(spark, d),
        "q198_stream_stream_outer" -> q198Plan(spark, d))
      gates.foreach { case (n, df) =>
        val counts = PlanShape.streamingNodeCounts(df)
        println(s"STREAMPLAN $n " +
          counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    } else names.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, d)
        .queryExecution.executedPlan.toString
      val (shuffle, bcast) = PlanShape.counts(plan)
      println(s"PLANCOUNT $n shuffle=$shuffle broadcast=$bcast")
    }
    spark.stop()
  }
}
