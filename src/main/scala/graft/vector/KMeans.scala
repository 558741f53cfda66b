package graft.vector

import graft.iter.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over an embedding column.
  *
  * Reference surface: `apps/vectors/kmeans.py` — mini-batch Lloyd's with
  * seeded centroids (kmeans.py:22-35 picks seed rows, :36-60 iterates
  * assign/update on a GPU). Re-expressed Spark-first: the assignment is a
  * broadcast of the k centroids against the points (map-side, no point
  * ever shuffles), argmin folded into a partial-aggregable
  * `min(struct(dist, cid))`, and the centroid update is a per-dimension
  * grouped mean — k×dims cells, a trivially partial-agg'd shuffle. Every
  * stage is O(points) map work + O(k·dims) reduce, the textbook scalable
  * layout for 100 TB of vectors with bounded k.
  *
  * Determinism: given fixed initial centroids the trajectory is fully
  * deterministic — distance ties break toward the lowest centroid id
  * (lexicographic struct min), and means are order-insensitive up to float
  * rounding.
  */
object KMeans {

  /** Squared L2 via the codegen'd dot kernel: ‖x−c‖² = x·x + c·c − 2·x·c,
    * with per-side self-dots computed once (not per pair). */
  private def withNorm(df: DataFrame, vec: String, norm: String): DataFrame =
    df.withColumn(norm, call_function("graft_dot", col(vec), col(vec)))

  /** Assign each point to its nearest centroid. Returns
    * (idCol, cluster, __v) where __v is the double-cast vector (kept so
    * the update step needs no join back to the source).
    *
    * `centroids` must be small (it is broadcast and cross-joined — k rows
    * by construction); vectors on both sides must be `array<double>`.
    */
  def assign(points: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cidCol: String, cvecCol: String): DataFrame = {
    val p = withNorm(
      points.select(col(idCol), col(vecCol).cast("array<double>").as("__v")),
      "__v", "__nv")
    val c = withNorm(
      centroids.select(col(cidCol).as("__cid"), col(cvecCol).as("__cv")),
      "__cv", "__nc")
    p.crossJoin(broadcast(c))
      .withColumn("__dist",
        col("__nv") + col("__nc") -
          lit(2.0) * call_function("graft_dot", col("__v"), col("__cv")))
      .groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col("__cid"))).as("__m"),
        first(col("__v")).as("__v"))
      .select(col(idCol), col("__m.__cid").as("cluster"), col("__v"))
  }

  /** Recompute centroids as per-dimension means of their assigned points.
    * Input is `assign`'s output; result is (cid, cv) ready for the next
    * round. Clusters that lost all points disappear (reference behavior:
    * an empty centroid is never re-seeded). */
  def update(assigned: DataFrame, cidCol: String = "cid",
             cvecCol: String = "cv"): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy(col("cluster"), col("__pos"))
      .agg(avg(col("__x")).as("__m"))
      .groupBy(col("cluster").as(cidCol))
      .agg(expr("transform(array_sort(collect_list(struct(__pos, __m)))," +
        " s -> s.__m)").as(cvecCol))

  /** `rounds` (≥ 1) full assign→update iterations from `initCentroids`,
    * each a [[graft.iter.Rounds]] round, then a final assignment against
    * the last centroids. Returns (idCol, cluster). */
  def lloyd(points: DataFrame, idCol: String, vecCol: String,
            initCentroids: DataFrame, cidCol: String, cvecCol: String,
            rounds: Int): DataFrame = {
    val init = initCentroids.select(
      col(cidCol), col(cvecCol).cast("array<double>").as(cvecCol))
    val cents = Rounds.run("lloyd", init, rounds) { (c, _) =>
      Some(update(assign(points, idCol, vecCol, c, cidCol, cvecCol),
        cidCol, cvecCol))
    } { (_, r) => r == rounds }
    assign(points, idCol, vecCol, cents, cidCol, cvecCol)
      .select(col(idCol), col("cluster"))
  }
}
