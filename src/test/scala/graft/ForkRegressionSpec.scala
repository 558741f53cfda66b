package graft

import graft.sources.MergeOnRead
import graft.streaming.StreamingOps
import java.nio.file.{Files, Path}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The local checkpoint, state and sink I/O of a streaming gate, a sink
  * round trip and a streaming upsert starts no Hadoop `Shell` process
  * (`chmod`, `readlink`): recorded in-process with JFR's
  * `jdk.ProcessStart` after one warm-up round. The only processes left
  * are Spark's own, in two command shapes: `rm -rf
  * <tmp>/artifacts-<uuid>/<uuid>`, run by the `Cleaner` of a
  * garbage-collected session's `ArtifactManager`
  * (`cleanUpGlobalResources`, `JavaUtils.deleteRecursively`) whether or
  * not artifact isolation is on, so how many land in the recording
  * depends on when the collector frees a streaming query's cloned
  * session; and `getconf PAGESIZE`, run once per JVM by
  * `ProcfsMetricsGetter` on the heartbeat thread. `Shell`'s one
  * `setsid` probe per JVM, run when the class loads, is taken in the
  * warm-up. */
class ForkRegressionSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions.col

  private val queries =
    Seq("q100_streaming_tumbling", "q86_csv_roundtrip", "q208_stream_upsert")

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
  /** The command shapes Spark itself starts (see the class doc). */
  private val sparkOwn = Seq(s"rm -rf \\S+/artifacts-$uuid/$uuid", "getconf PAGESIZE")
    .map(_.r)

  /** q208 lands its table once per JVM (an earlier suite may have built
    * it), so its upsert sink also runs here on fresh directories: a
    * parquet write, a checkpointed stream and merge-on-read commits. */
  private def upsertSink(dir: Path): Unit = {
    val src = dir.resolve("src").toString
    val rows = spark.range(40).select((col("id") % 7).as("user_id"),
      col("id").as("ts"), col("id").cast("double").as("value"))
    rows.write.parquet(src)
    val stream = spark.readStream.schema(rows.schema).parquet(src)
    val mor = dir.resolve("mor").toString
    StreamingOps.streamUpsertToMor(stream, mor, idCol = "user_id",
      orderCol = "ts", checkpoint = dir.resolve("ckpt").toString)
      .awaitTermination()
    assert(MergeOnRead.readMerged(spark, mor, "user_id").count() == 7)
  }

  private def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  test(s"${queries.mkString(", ")} start no Hadoop Shell process") {
    val dir = Files.createTempDirectory("graft-forks")
    val dump = dir.resolve("forks.jfr")
    def round(sink: Path): Unit = {
      queries.foreach(q => SparkEntry.queries(q)(spark, sf()).collect())
      upsertSink(Files.createDirectory(sink))
    }
    try {
      assert(!org.apache.hadoop.util.Shell.WINDOWS)
      round(dir.resolve("warm"))
      val rec = new Recording()
      try {
        rec.enable("jdk.ProcessStart").withStackTrace()
        rec.start()
        round(dir.resolve("timed"))
        rec.stop()
        rec.dump(dump)
      } finally rec.close()
      val events = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val shell = events.filter(e => Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
      assert(shell.isEmpty, s"${shell.size} of ${events.size} process starts " +
        "came from Hadoop's Shell, e.g. " +
        shell.take(3).map(_.getString("command")).mkString("; "))
      val other = events.map(_.getString("command"))
        .filterNot(c => sparkOwn.exists(_.matches(c)))
      assert(other.isEmpty, s"${other.size} of ${events.size} process starts " +
        s"are not Spark's own: ${other.take(3).mkString("; ")}")
    } finally deleteTree(dir)
  }
}
