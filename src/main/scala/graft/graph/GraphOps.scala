package graft.graph

import graft.iter.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph / sparse-linear-algebra operators.
  *
  * Reference surface: `apps/unstable/pagerank.py` (SpMVExecutor — the loop
  * body at pagerank.py:51 is literally `matrix.merge(vector, on="y")
  * .groupby("x").agg({'val':'sum'})`) and `apps/unstable/matmul.py`
  * (MatMulExecutor: blocked dense accumulation, matmul.py:32-60). Both are
  * hand-scheduled join-shaped executors in the reference; here they are
  * declarative join + aggregate so Catalyst picks broadcast vs shuffle per
  * side, partial-aggregates map-side, and AQE handles skew.
  */
object GraphOps {

  /** One sparse matrix–vector step: y(row) = Σ_col m(row,col) · v(col).
    * The reference SpMVExecutor body (pagerank.py:51) as one shuffle:
    * equi-join on the inner index, then a partial-agg'd grouped sum. At
    * scale the vector side is a fraction of the matrix; Spark broadcasts
    * it when small and shuffle-joins otherwise — exactly the two layouts
    * the reference hand-codes (SpMVExecutor vs SpMVExecutorMKL).
    */
  def spmv(matrix: DataFrame, rowCol: String, colCol: String, valCol: String,
           vector: DataFrame, idCol: String, vecValCol: String): DataFrame =
    matrix.join(vector, matrix(colCol) === vector(idCol))
      .groupBy(matrix(rowCol).as(rowCol))
      .agg(sum(matrix(valCol) * vector(vecValCol)).as(vecValCol))

  /** COO sparse matmul C = A·B: join on the inner dimension, grouped sum
    * over (i, j) (reference MatMulExecutor, matmul.py:32-60 — there a
    * 2×2 block grid of numpy accumulators; here the same contraction as a
    * declarative join whose shuffle IS the block partitioning, sized by
    * `spark.sql.shuffle.partitions` instead of a hard-coded BX×BY). */
  def matmul(a: DataFrame, ai: String, aj: String, av: String,
             b: DataFrame, bi: String, bj: String, bv: String): DataFrame =
    a.join(b, a(aj) === b(bi))
      .groupBy(a(ai).as("i"), b(bj).as("j"))
      .agg(sum(a(av) * b(bv)).as("val"))

  /** Weighted PageRank by iterated SpMV over an edge list
    * (reference apps/unstable/pagerank.py drives SpMVExecutor in a loop).
    *
    * pr₀(v) = 1/N;  prₖ₊₁(v) = (1−d)/N + d · Σ_{(u,v)∈E} p(u,v) · prₖ(u)
    * where p(u,v) = w(u,v) / Σ_x w(u,x). Dangling mass is dropped (the
    * reference does the same — its SpMV has no dangling redistribution).
    *
    * Scale notes: the transition matrix is row-normalized ONCE via a
    * window partitioned by src — that exchange hash-partitions the edges
    * on src, and the persisted InMemoryRelation keeps that partitioning,
    * so every iteration's join on src reuses it instead of re-shuffling
    * the (large) edge side; only the (small) rank vector moves per
    * iteration. Each iteration is one [[graft.iter.Rounds]] round, which
    * truncates its rank vector. The persisted edges are released on every
    * exit, after the last round's ranks are materialized.
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, nodes: DataFrame, idCol: String,
               iterations: Int, damping: Double = 0.85,
               detScale: Option[Int] = None): DataFrame = {
    val n = nodes.count().toDouble
    val reset = (1.0 - damping) / n
    val trans = edges
      .withColumn("__p",
        col(weightCol) / sum(col(weightCol)).over(Window.partitionBy(srcCol)))
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), col("__p"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // With a bounded node count the rank vector broadcasts: each
    // iteration is then map-side against the (partitioned, cached) edges
    // plus one O(nodes) aggregate — the edge side never re-shuffles.
    // Past the broadcast threshold, fall back to a shuffle join that
    // reuses the cached src-partitioning of `trans`.
    val broadcastRanks = n <= 5e6
    val init = nodes.select(col(idCol).as("id")).withColumn("pr", lit(1.0 / n))
    try Rounds.run("pagerank", init, iterations) { (ranks, _) =>
      val rSide = if (broadcastRanks) broadcast(ranks) else ranks
      // detScale: the inflow sum runs through Det (order-independent
      // decimal sum) so iterated ranks are bit-stable at any
      // parallelism — a raw double sum drifts per run and compounds
      // across iterations.
      val inflow = trans.join(rSide, col("__src") === col("id"))
        .groupBy(col("__dst"))
        .agg((detScale match {
          case Some(sc) => graft.functions.Det.dsum(col("__p") * col("pr"), sc)
          case None => sum(col("__p") * col("pr"))
        }).as("__inflow"))
      Some(nodes.select(col(idCol).as("id"))
        .join(inflow, col("id") === col("__dst"), "left")
        .select(col("id"),
          (lit(reset) + lit(damping) * coalesce(col("__inflow"), lit(0.0)))
            .as("pr")))
    } { (_, i) => i == iterations } finally trans.unpersist(false)
  }
}
