package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets

/** Parquet reads that infer each file set's schema once per JVM.
  *
  * A bare `spark.read.parquet(path)` runs a one-task Spark job
  * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`) to read the
  * footers, every time a DataFrame is built — for short interactive
  * queries that job is a large share of the whole latency. [[read]]
  * remembers the inferred `StructType` and, on a hit, reads with
  * `spark.read.schema(cached)`, which skips the footer job. The file
  * index still lists the paths, so the rows, partition discovery,
  * column pruning and predicate pushdown are those of a plain read.
  *
  * Cache key (a SHA-256 digest of):
  *  - the qualified root paths as given — partition discovery depends
  *    on them, not only on the leaves;
  *  - every leaf file under them (path, length, modification time),
  *    listed through the Hadoop `FileSystem`, so directories, globs and
  *    non-local file systems are covered;
  *  - the session confs that change what inference returns
  *    ([[InferenceConfs]]) and the `mergeSchema` flag.
  *
  * Why a hit is safe: Spark applies `asNullable` to the data schema on
  * both the inferring and the user-schema path, and takes partition
  * column types from the given schema, so a hit resolves to the same
  * relation schema as a cold read. A file rewritten, added or removed
  * changes the leaf listing and therefore the key, and so does flipping
  * any listed conf; a stale entry is never consulted, it just ages out.
  * A rewrite that keeps a file's path, length and millisecond
  * modification time is the one change the key cannot see.
  *
  * Bound: at most [[MaxEntries]] schemas, least recently used evicted
  * first. Keys are fixed-size digests, so the bound is also a memory
  * bound whatever the size of the file sets.
  *
  * Paths that cannot be listed (missing, unreadable) bypass the cache,
  * so Spark raises its own error for them. */
object ParquetSchemas {

  private val MaxEntries = 256

  /** Session confs read by parquet schema and partition inference. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  private val cache = new java.util.LinkedHashMap[String, StructType](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, StructType]): Boolean =
      size() > MaxEntries
  }

  /** `spark.read.parquet(paths: _*)`, with `mergeSchema` set when asked,
    * minus the schema-inference job whenever this file set was read
    * before under the same inference confs. */
  def read(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    keyOf(spark, paths, mergeSchema) match {
      case None => reader.parquet(paths: _*)
      case Some(key) =>
        cache.synchronized(Option(cache.get(key))) match {
          case Some(schema) => reader.schema(schema).parquet(paths: _*)
          case None =>
            val df = reader.parquet(paths: _*)
            cache.synchronized(cache.put(key, df.schema))
            df
        }
    }
  }

  private def keyOf(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): Option[String] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val roots = paths.map { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        val qualified = fs.makeQualified(root)
        (qualified, fs, Option(fs.globStatus(qualified)).toSeq.flatten)
      }
      if (roots.isEmpty || roots.exists(_._3.isEmpty)) None
      else {
        val parts = roots.map { case (qualified, fs, matched) =>
          val leaves = matched.sortBy(_.getPath.toString)
            .flatMap(leafFiles(fs, _))
            .map(f => s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}")
          (qualified.toString +: leaves).mkString("\u0001")
        }
        val confs = InferenceConfs.map(k => s"$k=${spark.conf.getOption(k)}")
        val raw = (parts ++ confs :+ s"mergeSchema=$mergeSchema").mkString("\u0002")
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(raw.getBytes(StandardCharsets.UTF_8))
        Some(digest.map("%02x".format(_)).mkString)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.toString)
        .flatMap(leafFiles(fs, _))
    else Seq(st)
}
