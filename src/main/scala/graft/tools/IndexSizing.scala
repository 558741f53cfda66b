package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the last BASELINE.md row with no evidence (r16): the
  * reference's observability-index sizing claim — "full-text index ≈
  * 1% of uncompressed log size, 20% of Parquet size"
  * (blog/time.md:51, the Rottnest direction). Builds the engine's
  * postings index (text.TextIndex — the q187/q189 surface) over the
  * documents fixture and reports index bytes vs (a) uncompressed text
  * bytes and (b) the parquet the corpus ships as.
  *
  * Context for reading the ratios: the reference's 1% claim is about
  * LOG data — highly repetitive lines where the distinct-token
  * universe is tiny relative to the corpus, which is what makes a
  * postings index collapse. The driver's documents fixture is
  * synthetic prose (much higher token entropy), so the honest
  * expectation here is a WORSE ratio than logs; the measurement
  * pins where this engine's index actually lands on this corpus
  * shape and scales it 1× → 10× to show the direction.
  *
  * Usage: `sbt "runMain graft.tools.IndexSizing [sfDir ...]"`
  * (defaults to sf0.1 and, when present, the `Soak 10` target/sf1). */
object IndexSizing {
  private def dirBytes(p: java.io.File): Long =
    if (p.isFile) p.length()
    else Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1") ++
        (if (new java.io.File("target/sf1/_BUILD_COMPLETE").exists())
          Seq("target/sf1") else Nil)
    def measure(tag: String, docs: org.apache.spark.sql.DataFrame,
        parquetBytes: Long): Unit = {
      val textBytes = docs.agg(sum(octet_length(col("text"))))
        .head().getLong(0)
      val idxDir = java.nio.file.Files
        .createTempDirectory("idx_sizing").toString
      graft.text.TextIndex.build(docs, "doc_id", "text", idxDir)
      val indexBytes = dirBytes(new java.io.File(idxDir))
      println(f"[idxsize] $tag docs=${docs.count()}%d " +
        f"text=${textBytes / 1048576.0}%.1fMiB " +
        f"parquet=${parquetBytes / 1048576.0}%.1fMiB " +
        f"index=${indexBytes / 1048576.0}%.1fMiB " +
        f"idx/text=${indexBytes.toDouble / textBytes}%.3f " +
        f"idx/parquet=${indexBytes.toDouble / parquetBytes}%.3f")
    }
    dirs.foreach { d =>
      val docs = spark.read.parquet(s"$d/documents.parquet")
      measure(d, docs, dirBytes(new java.io.File(s"$d/documents.parquet")))
    }

    // LOG-shaped corpus — the claim's actual domain: templated lines
    // with small value vocabularies, indexed at CHUNK granularity
    // (256 lines per doc — the Rottnest design indexes which file/
    // group holds a token, not which line; chunking is the honest
    // restatement of that granularity on this engine's doc-keyed
    // index). Deterministic synthesis, no Date.now.
    val logLines = sys.env.getOrElse("GRAFT_IDX_LOG_LINES", "500000").toLong
    // NOTE: Column./ is true division (-> fractional strings that lpad
    // would truncate to garbage like "1." — r16 review round 2); the
    // time fields use explicit integral arithmetic
    val lines = spark.range(logLines).select(col("id"),
      concat(
        lit("2026-08-16T12:"),
        lpad((col("id") % 60).cast("string"), 2, "0"),
        lit(":"),
        lpad((floor(col("id") / 60) % 60).cast("long").cast("string"),
          2, "0"),
        lit(" INFO service-"), (col("id") % 12).cast("string"),
        lit(" request completed path=/api/v"),
        (col("id") % 3).cast("string"),
        lit("/resource/"), (col("id") % 40).cast("string"),
        lit(" status="),
        when(col("id") % 17 === 0, 500).otherwise(200).cast("string"),
        lit(" latency_ms="), (pmod(hash(col("id")), lit(200)))
          .cast("string")).as("line"))
    // two granularities: 256 lines/doc (block-level, the finer search
    // unit) and 4096 lines/doc (file-level — the granularity the
    // reference's 1%-of-raw claim is actually about: its index records
    // which FILE holds a token, and the searcher then scans that file)
    Seq(256L, 4096L).foreach { chunk =>
      val logChunks = lines.groupBy((col("id") / chunk).cast("long")
          .as("doc_id"))
        .agg(concat_ws("\n", collect_list(col("line"))).as("text"))
      val logDir = java.nio.file.Files
        .createTempDirectory("idx_sizing_logsrc").toString
      logChunks.write.mode("overwrite").parquet(logDir)
      val logDocs = spark.read.parquet(logDir)
      measure(s"log-shaped(${logLines} lines, $chunk/chunk)", logDocs,
        dirBytes(new java.io.File(logDir)))
    }
    spark.stop()
  }
}
