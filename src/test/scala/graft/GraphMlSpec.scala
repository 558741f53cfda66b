package graft

import graft.graph.GraphOps
import graft.vector.KMeans
import org.apache.spark.sql.functions._

/** Unit semantics for the iterative graph/ML operators (reference
  * apps/unstable/pagerank.py, apps/unstable/matmul.py,
  * apps/vectors/kmeans.py). */
class GraphMlSpec extends SparkSpecBase {
  import spark.implicits._

  test("spmv computes y = M·v") {
    // M = [[1,2],[0,3]] in COO; v = [10, 100] → y = [210, 300]
    val m = Seq((0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0)).toDF("r", "c", "v")
    val vec = Seq((0, 10.0), (1, 100.0)).toDF("id", "x")
    val y = GraphOps.spmv(m, "r", "c", "v", vec, "id", "x")
      .orderBy("r").as[(Int, Double)].collect()
    assert(y.toSeq == Seq((0, 210.0), (1, 300.0)))
  }

  test("matmul contracts COO matrices; absent products are absent rows") {
    // A = [[1,2],[0,3]], B = [[0,1],[1,0]] → C = [[2,1],[3,0]]; the 0
    // cells never materialize (sparse semantics).
    val a = Seq((0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0)).toDF("i", "j", "v")
    val b = Seq((0, 1, 1.0), (1, 0, 1.0)).toDF("i2", "j2", "v2")
    val c = GraphOps.matmul(a, "i", "j", "v", b, "i2", "j2", "v2")
      .orderBy("i", "j").as[(Int, Int, Double)].collect()
    assert(c.toSeq == Seq((0, 0, 2.0), (0, 1, 1.0), (1, 0, 3.0)))
  }

  test("pagerank on a symmetric cycle is uniform; mass is conserved") {
    val edges = Seq((0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)).toDF("s", "t", "w")
    val nodes = Seq(0, 1, 2).toDF("id")
    val pr = GraphOps.pagerank(edges, "s", "t", "w", nodes, "id",
        iterations = 7)
      .as[(Int, Double)].collect().toMap
    assert(pr.values.forall(v => math.abs(v - 1.0 / 3) < 1e-12))
    assert(math.abs(pr.values.sum - 1.0) < 1e-12)
  }

  test("pagerank favors the sink of an asymmetric graph") {
    // 0→2, 1→2, 2→0: node 2 has two inbound sources. The 0↔2 cycle
    // oscillates with amplitude ~0.85^k, so run past the steady-state gap.
    val edges = Seq((0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0)).toDF("s", "t", "w")
    val nodes = Seq(0, 1, 2).toDF("id")
    val pr = GraphOps.pagerank(edges, "s", "t", "w", nodes, "id",
        iterations = 31).as[(Int, Double)].collect().toMap
    assert(pr(2) > pr(0) && pr(0) > pr(1))
    // node 1 has no in-edges → exactly the reset mass
    assert(math.abs(pr(1) - 0.15 / 3) < 1e-12)
  }

  test("kmeans separates two obvious blobs and ties break low") {
    val pts = Seq(
      (0, Seq(0.0, 0.1)), (1, Seq(0.1, 0.0)), (2, Seq(0.05, 0.05)),
      (3, Seq(9.0, 9.1)), (4, Seq(9.1, 9.0)), (5, Seq(9.05, 9.05)),
      (6, Seq(4.55, 4.55)) // exactly between the round-1 centroids → cid 0
    ).toDF("id", "v")
    val init = Seq((0, Seq(0.0, 0.0)), (1, Seq(9.1, 9.1))).toDF("cid", "cv")
    val out = KMeans.lloyd(pts, "id", "v", init, "cid", "cv", rounds = 1)
      .as[(Int, Int)].collect().toMap
    assert(Seq(0, 1, 2).forall(out(_) == 0))
    assert(Seq(3, 4, 5).forall(out(_) == 1))
    // centroids after round 1: means of each blob (point 6 joins blob 0 in
    // round 1 only if equidistant ties break toward cid 0)
    assert(out(6) == 0)
  }

  test("kmeans update drops emptied clusters instead of re-seeding") {
    val pts = Seq((0, Seq(1.0, 1.0)), (1, Seq(1.2, 1.0))).toDF("id", "v")
    val init = Seq((0, Seq(1.0, 1.0)), (1, Seq(50.0, 50.0))).toDF("cid", "cv")
    val assigned = KMeans.assign(pts, "id", "v", init, "cid", "cv")
    val cents = KMeans.update(assigned)
    assert(cents.count() == 1)
    assert(cents.select("cid").as[Int].head() == 0)
  }
}
