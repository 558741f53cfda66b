package graft

import graft.queries.Tables
import graft.sources.{ParquetSchemas, Snapshots}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BinaryType, StringType}
import java.nio.file.{Files, Path, StandardCopyOption}

/** Pins [[ParquetSchemas]]: a repeated read of an unchanged file set
  * starts no schema-inference job, and a hit never returns a schema a
  * cold `spark.read` would not — after a rewrite, under a flipped
  * inference conf, for hive-partitioned commits and for add-column
  * merged reads. */
class ParquetSchemaCacheSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The single part file of a one-partition parquet write. */
  private def writeOneFile(df: DataFrame, scratch: Path): Path = {
    val out = Files.createTempDirectory(scratch, "w")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val s = Files.list(out)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    finally s.close()
  }

  test("a second Tables.t of an unchanged table starts zero Spark jobs") {
    val dir = Files.createTempDirectory("schema_cache_tables")
    Files.copy(java.nio.file.Paths.get(sf(), "nation.parquet"),
      dir.resolve("nation.parquet"))
    val cold = jobsDuring(Tables.nation(spark, dir.toString))
    assert(cold >= 1, "a cold read infers its schema with a Spark job")
    var warm: DataFrame = null
    assert(jobsDuring { warm = Tables.nation(spark, dir.toString) } == 0)
    assert(warm.schema == spark.read.parquet(dir.resolve("nation.parquet")
      .toString).schema)
    assert(warm.count() == 25L)
  }

  test("rewriting a file at the same path returns the new schema") {
    val dir = Files.createTempDirectory("schema_cache_rewrite")
    val target = dir.resolve("t.parquet")
    Files.copy(writeOneFile(Seq(1, 2, 3).toDF("a"), dir), target)
    val first = ParquetSchemas.read(spark, Seq(target.toString))
    assert(first.columns.toSeq == Seq("a"))
    assert(jobsDuring(ParquetSchemas.read(spark, Seq(target.toString))) == 0)
    Files.copy(writeOneFile(Seq(("x", 7L)).toDF("a", "b"), dir), target,
      StandardCopyOption.REPLACE_EXISTING)
    val second = ParquetSchemas.read(spark, Seq(target.toString))
    assert(second.schema == spark.read.parquet(target.toString).schema)
    assert(second.schema("a").dataType == StringType)
    assert(second.collect().toSeq == Seq(Row("x", 7L)))
  }

  /** A parquet file with an unannotated BINARY column and no Spark
    * schema in its footer, as non-Spark writers produce it. */
  private def writePlainBinary(file: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 k; required binary payload; }")
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
      .withType(schema).withConf(conf).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("k", 1).append("payload", Binary.fromString("hi")))
    finally writer.close()
  }

  test("flipping binaryAsString yields the other type, not the cached one") {
    val dir = Files.createTempDirectory("schema_cache_binary")
    val plain = dir.resolve("plain.parquet")
    writePlainBinary(plain)
    // a Spark-written file carries its Spark schema in the footer, which
    // inference prefers over the conf: binary on both settings
    val sparkWritten = dir.resolve("spark").toString
    Seq((1, Array[Byte](104, 105))).toDF("k", "payload")
      .write.parquet(sparkWritten)
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    def payloadTypes(): Seq[org.apache.spark.sql.types.DataType] =
      Seq(plain.toString, sparkWritten).map { p =>
        val hit = ParquetSchemas.read(spark, Seq(p)).schema
        assert(hit == spark.read.parquet(p).schema, p)
        hit("payload").dataType
      }
    try {
      spark.conf.set(key, "false")
      assert(payloadTypes() == Seq(BinaryType, BinaryType))
      assert(jobsDuring(ParquetSchemas.read(spark, Seq(plain.toString))) == 0)
      spark.conf.set(key, "true")
      assert(payloadTypes() == Seq(StringType, BinaryType))
      assert(ParquetSchemas.read(spark, Seq(plain.toString)).head()
        .getString(1) == "hi")
      spark.conf.set(key, "false")
      assert(payloadTypes() == Seq(BinaryType, BinaryType))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("partitioned and add-column snapshot reads match a cold read on a hit") {
    // hive-partitioned commit: partition column discovered under the dir
    val part = Files.createTempDirectory("schema_cache_part").toString
    Snapshots.write(Seq((1, "a", 10L), (2, "b", 20L), (3, "a", 30L))
      .toDF("id", "p", "v"), part, partitionBy = Seq("p"))
    val partCold = spark.read.parquet(s"$part/data/v1")
    Snapshots.read(spark, part)
    var partHit: DataFrame = null
    assert(jobsDuring { partHit = Snapshots.read(spark, part) } == 0)
    assert(partHit.schema == partCold.schema)
    assert(rows(partHit) == rows(partCold))
    assert(rows(partHit.filter($"p" === "a").select("id")) ==
      Seq("[1]", "[3]"))

    // add-column evolution: v2 carries a column v1 lacks
    val evo = Files.createTempDirectory("schema_cache_evo").toString
    Snapshots.write(Seq((1, "x")).toDF("id", "s"), evo)
    Snapshots.write(Seq((2, "y", 5.5)).toDF("id", "s", "extra"), evo,
      mode = "append")
    val evoCold = Seq(s"$evo/data/v1", s"$evo/data/v2")
      .map(spark.read.parquet(_))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    Snapshots.read(spark, evo, mergeSchema = true)
    var evoHit: DataFrame = null
    assert(jobsDuring {
      evoHit = Snapshots.read(spark, evo, mergeSchema = true)
    } == 0)
    assert(evoHit.schema == evoCold.schema)
    assert(rows(evoHit) == rows(evoCold))

    // one merged-schema scan over both commit dirs (MergeOnRead's read)
    val dirs = Seq(s"$evo/data/v1", s"$evo/data/v2")
    val mergedCold = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    ParquetSchemas.read(spark, dirs, mergeSchema = true)
    var mergedHit: DataFrame = null
    assert(jobsDuring {
      mergedHit = ParquetSchemas.read(spark, dirs, mergeSchema = true)
    } == 0)
    assert(mergedHit.schema == mergedCold.schema)
    assert(mergedHit.columns.toSeq == Seq("id", "s", "extra"))
    assert(rows(mergedHit) == rows(mergedCold))
  }
}
