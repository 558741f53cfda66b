package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: run only these query names (dev subset runs —
    // the rmTree below still clears the WHOLE dump, so a subset run
    // can never leave a stale full catalog for check.py to pass)
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); session-level so no query
      // constructor has to mutate shared conf (round-8 verdict)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // before any query touches the session state (see GraftFunctions)
    graft.functions.GraftFunctions.register(spark)
    // Clear any previous dump FIRST: a query that throws writes nothing,
    // and a stale result dir from an earlier run would otherwise pass
    // the oracle compare and mask the failure (burned in round 8).
    def rmTree(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        val children = try s.toArray(new Array[java.nio.file.Path](_))
                       finally s.close()
        children.foreach(rmTree)
      }
      Files.deleteIfExists(p)
    }
    rmTree(Paths.get(outDir))
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.toSet).toMap
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Bench.jsonStr escapes quotes, backslashes and every control char:
    // a tab or CR in an oracle's SQL would otherwise break the json.load
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
