package graft

import graft.dedup.Clusters
import graft.graph.GraphOps
import graft.text.BpeTrain
import graft.vector.KMeans
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `graft.iter.Rounds`, the one round loop behind connected components,
  * PageRank, k-means and BPE training: round naming, the caller's job
  * properties, the round bound, the jobs each operator starts per call,
  * and the cache entries a failed round leaves behind. */
class RoundsSpec extends SparkSpecBase {
  import spark.implicits._

  private def chain(n: Long): (DataFrame, DataFrame) =
    ((0L until n - 1).map(i => (i, i + 1)).toDF("id_1", "id_2"),
      (0L until n).toDF("id"))

  private def cc(pairs: DataFrame, nodes: DataFrame, maxRounds: Int = 16) =
    Clusters.connectedComponents(pairs, "id_1", "id_2", nodes, "id", maxRounds)

  // entries in the session's CacheManager (`numCachedEntries` is
  // private[sql] in Scala, public in bytecode)
  private def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("each round's jobs are described \"connectedComponents round <i>\"") {
    val (pairs, nodes) = chain(16)
    var out: DataFrame = null
    val descriptions = jobDescriptionsDuring { out = cc(pairs, nodes) }
    val rounds = descriptions.distinct
    val k = rounds.size
    assert(k > 1, descriptions)
    assert(rounds == (1 to k).map(i => s"connectedComponents round $i"),
      descriptions)
    // rounds are contiguous: no job of round i starts after round i + 1's
    assert(descriptions == descriptions.sortBy(rounds.indexOf(_)))
    assert(out.collect().forall(_.getLong(1) == 0L))
    // k is the number of rounds the chain needs: one fewer fails
    intercept[IllegalStateException](cc(pairs, nodes, maxRounds = k - 1))
  }

  test("the caller's job group and description survive a return and a throw") {
    val sc = spark.sparkContext
    val (pairs, nodes) = chain(16)
    def assertIntact(): Unit = {
      assert(sc.getLocalProperty("spark.jobGroup.id") == "rounds-spec")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    }
    sc.setJobGroup("rounds-spec", "caller")
    try {
      cc(pairs, nodes)
      assertIntact()
      val e = intercept[IllegalStateException](cc(pairs, nodes, maxRounds = 1))
      assert(e.getMessage.contains("did not converge"))
      assertIntact()
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
    }
  }

  test("maxRounds = 0 raises IllegalArgumentException before any job") {
    val (pairs, nodes) = chain(16)
    val before = cachedEntries
    assert(jobsDuring {
      intercept[IllegalArgumentException](cc(pairs, nodes, maxRounds = 0))
    } == 0)
    assert(cachedEntries == before)
  }

  test("a round that fails leaves no cache entry behind") {
    // the second id only fails when a task evaluates it
    val pairs = spark.range(0, 8).select(col("id").as("id_1"),
      raise_error(concat(lit("bad id "), col("id").cast("string")))
        .cast("long").as("id_2"))
    val before = cachedEntries
    val e = intercept[SparkThrowable](cc(pairs, spark.range(0, 8).toDF("id")))
    assert(e.getCondition == "USER_RAISED_EXCEPTION", e)
    assert(cachedEntries == before)
  }

  test("jobs per call: one per round step, one truncation per round") {
    // Spark jobs started by each call plus one collect of its result,
    // on the CurationSpec and GraphMlSpec fixtures. CC and lloyd start
    // as many jobs as their hand-rolled loops did. learnMerges skips
    // the rewrite and truncation of the round that reaches numMerges,
    // which nothing reads; a run whose pairs run out ends on a round
    // that adds no truncation either.
    // pagerank truncates every round where it used to truncate every
    // fifth plus the result: 28 → 33 jobs at 7 iterations, 7 → 7 at 1.
    def jobs(df: => DataFrame): Int = jobsDuring(df.collect())
    assert(jobs(cc(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 7L)).toDF("id_1", "id_2"),
      Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L).toDF("id"))) == 34)
    val (pairs, nodes) = chain(16)
    assert(jobs(cc(pairs, nodes)) == 53)
    val pts = Seq(
      (0, Seq(0.0, 0.1)), (1, Seq(0.1, 0.0)), (2, Seq(0.05, 0.05)),
      (3, Seq(9.0, 9.1)), (4, Seq(9.1, 9.0)), (5, Seq(9.05, 9.05)),
      (6, Seq(4.55, 4.55))).toDF("id", "v")
    val init = Seq((0, Seq(0.0, 0.0)), (1, Seq(9.1, 9.1))).toDF("cid", "cv")
    assert(jobs(KMeans.lloyd(pts, "id", "v", init, "cid", "cv", rounds = 1)) == 4)
    assert(jobs(KMeans.lloyd(pts, "id", "v", init, "cid", "cv", rounds = 3)) == 12)
    val docs = Seq((1L, Seq("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3).flatMap { case (w, f) => Seq.fill(f)(w) }.mkString(" ")))
      .toDF("doc_id", "text")
    assert(jobs(BpeTrain.learnMerges(docs, "text", 8)) == 25)
    val tri = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    assert(jobs(BpeTrain.learnMerges(tri, "text", 2)) == 7)
    // round 3 finds no pair: one more collect, no truncation
    assert(jobs(BpeTrain.learnMerges(tri, "text", 5)) == 9)
    val edges = Seq((0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)).toDF("s", "t", "w")
    val prNodes = Seq(0, 1, 2).toDF("id")
    assert(jobs(GraphOps.pagerank(edges, "s", "t", "w", prNodes, "id", 7)) == 33)
    assert(jobs(GraphOps.pagerank(edges, "s", "t", "w", prNodes, "id", 1)) == 7)
  }
}
