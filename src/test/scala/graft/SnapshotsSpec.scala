package graft

import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Snapshot-ID / time-travel reads (the capability of the reference's
  * `read_iceberg`) via parquet-manifest snapshot tables
  * (graft.sources.Snapshots), with no iceberg jar. q115 gates the
  * operator against the DuckDB oracle; these specs pin the commit
  * protocol's edges. */
class SnapshotsSpec extends SparkSpecBase {
  import graft.sources.Snapshots

  private def freshDir =
    java.nio.file.Files.createTempDirectory("graft_snapspec").toString

  test("overwrite and append commits pin independent readable snapshots") {
    val s = spark
    import s.implicits._
    val dir = freshDir
    assert(Snapshots.write(Seq(1L, 2L, 3L).toDF("k"), dir) === 1L)
    assert(Snapshots.write(Seq(10L).toDF("k"), dir, "overwrite") === 2L)
    assert(Snapshots.write(Seq(20L, 30L).toDF("k"), dir, "append") === 3L)
    def keys(id: Option[Long]) =
      Snapshots.read(spark, dir, id).collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(Some(1L)) === Seq(1L, 2L, 3L))
    assert(keys(Some(2L)) === Seq(10L))
    assert(keys(Some(3L)) === Seq(10L, 20L, 30L))
    assert(keys(None) === Seq(10L, 20L, 30L)) // HEAD
    val hist = Snapshots.history(spark, dir)
      .orderBy("snapshot_id").collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(hist.map(_.getString(3)).toSeq ===
      Seq("overwrite", "overwrite", "append"))
    assert(hist.last.getInt(4) === 2) // append lists parent's dir + its own
  }

  test("q98 and q115 builds leave their temp dirs to the exit sweep") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def dirs(prefix: String): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.toString)
        .filter(_.startsWith(tmp.resolve(prefix).toString)).toSet
      finally ls.close()
    }
    Seq("q98_sorted_csv" -> "graft_q98_sorted_csv",
      "q115_snapshot_timetravel" -> "graft_q115_snapshots").foreach {
      case (q, prefix) =>
        val before = dirs(prefix)
        SparkEntry.queries(q)(spark, sf())
        val made = dirs(prefix) -- before
        assert(made.nonEmpty, s"$q made no $prefix dir")
        made.foreach(d => assert(graft.queries.GateQueries.sweepAtExit
          .contains(d), s"$q leaves $d behind at exit"))
    }
  }

  test("missing snapshot id and empty table fail loudly") {
    val s = spark
    import s.implicits._
    val dir = freshDir
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, None))
    Snapshots.write(Seq(1L).toDF("k"), dir)
    intercept[IllegalArgumentException](
      Snapshots.read(spark, dir, Some(99L)))
  }

  test("snapshot reads keep parquet pushdown (filter reaches the scan)") {
    val s = spark
    import s.implicits._
    val dir = freshDir
    Snapshots.write((1L to 100L).toDF("k"), dir)
    val plan = Snapshots.read(spark, dir).filter(col("k") === 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,5)]"), plan)
  }
}
