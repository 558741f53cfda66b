package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** r13 adjudication probe for q170_rate_anomaly's 3.15 soak ratio
  * (verdict item 3): measure the actual group growth at 10× — the
  * (user, hr) key count, the per-user stats count, and the flagged-row
  * count at sf0.1 vs target/sf1 — plus a timed split of the two
  * pipeline stages, so the COVERAGE pin is a measurement, not a story.
  * Usage: `sbt "runMain graft.tools.Q170Probe"` (needs target/sf1 from
  * a prior `Soak 10` run). */
object Q170Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def probe(dir: String): Unit = {
      val ev = graft.queries.Tables.events(spark, dir)
      val hc = ev.select(col("user_id"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy(col("user_id"), col("hr")).agg(count(lit(1)).as("c"))
      val users = hc.select("user_id").distinct().count()
      val groups = hc.count()
      val flagged = graft.ts.EventStats
        .anomalousHours(ev, "user_id", "ts").count()
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // warm once, then min-of-2 per stage
      def stage1() = hc.write.format("noop").mode("overwrite").save()
      def full() = graft.ts.EventStats.anomalousHours(ev, "user_id", "ts")
        .write.format("noop").mode("overwrite").save()
      stage1(); full()
      val t1 = math.min(timed(stage1()), timed(stage1()))
      val tf = math.min(timed(full()), timed(full()))
      println(f"[q170probe] dir=$dir users=$users groups=$groups " +
        f"flagged=$flagged stage1(hc)=$t1%.3fs full=$tf%.3fs")
    }
    probe("/root/testdata/sf0.1")
    probe("target/sf1")
    spark.stop()
  }
}
