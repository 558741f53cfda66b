package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** One session for the whole test JVM (Test/fork runs all suites in a
  * single forked JVM; Spark startup is ~5s, so share it). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/test-warehouse")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body` with the session conf `key` set to `value`, restored after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started by `body` on this thread. */
  def jobsDuring(body: => Unit): Int = jobDescriptionsDuring(body).size

  /** Descriptions of the Spark jobs started by `body` on this thread, in
    * start order ("" for a job that ran under no description). Jobs
    * carry the thread's job group; a sentinel job in the same group,
    * started after `body`, marks the point up to which every earlier
    * job-start event has been delivered (the listener bus is ordered). */
  def jobDescriptionsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val sentinel = "sentinel"
    val started = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            val description = p.getProperty("spark.job.description", "")
            if (description == sentinel) sentinelSeen.countDown()
            else started.add(description)
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job not seen")
      started.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
