package graft.dedup

import graft.iter.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate cluster resolution: connected components over a pair
  * graph, the "last mile" of corpus dedup. Pair generators
  * ([[Dedup.lshNearDupPairs]], [[Dedup.sparseJaccardPairs]],
  * [[Dedup.embeddingNearDupPairs]]) emit *edges*; an actionable dedup
  * needs each document's *cluster* and one canonical keeper per cluster
  * — duplicate chains (A~B, B~C, but A≁C by direct comparison) must
  * still collapse to one keeper, which per-pair tagging cannot do.
  *
  * The reference ships the pair generators' building blocks (vector
  * range/NN joins, groupbys — `pyquokka/datastream.py`); cluster
  * resolution is the standard completion of its dedup story at corpus
  * scale (the MinHashLSH → components pipeline of Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better").
  *
  * Algorithm: min-label propagation with pointer jumping — each round
  * every node takes the minimum label over itself and its neighbors
  * (one join + partial-agg'd min), then labels chase their own parent
  * (label := label(label), a second small join). The jump step doubles
  * the distance information travels per round, so convergence is
  * O(log diameter) rounds, not O(diameter) — the difference between 4
  * and 40 shuffles on a chain of boilerplate pages. This is the
  * alternating-star contraction family (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") in declarative form.
  *
  * Scale shape (100 TB): every relation here is id-sized — (edge: two
  * longs) and (label: two longs); no exchange ever carries text. Edges
  * are persisted partitioned on the probe key so each round's big join
  * reuses that layout instead of re-shuffling; the label side is a
  * fraction of the edge side and hash-joins. Convergence is detected
  * with one scalar count per round (driver orchestrates, never holds
  * data). Near-dup graphs are sparse and shallow (clusters are
  * boilerplate families), so rounds ≈ log of the deepest chain.
  */
object Clusters {

  /** Connected components: returns (idCol, cluster_id) for every node,
    * where cluster_id is the minimum node id reachable through `pairs`.
    * Nodes absent from `pairs` are their own cluster. Edge direction in
    * `pairs` is ignored (the relation is symmetrized internally).
    *
    * @param maxRounds hard stop, past which the call raises; with pointer
    *   jumping each round doubles reach, so 16 covers diameter ~2^16.
    */
  def connectedComponents(
      pairs: DataFrame, id1: String, id2: String,
      nodes: DataFrame, idCol: String,
      maxRounds: Int = 16): DataFrame = {
    // Symmetrized edge list, partitioned on src: each round joins labels
    // on src then re-aggregates on dst, so persisting the src layout
    // makes the per-round cost one agg shuffle + one small label join.
    // Symmetrize by EXPLODING both directions from one scan — a
    // union of two projections would run the pair-generating pipeline
    // (LSH candidate join + Jaccard confirm, at corpus scale the
    // expensive part) once per branch during materialization. Released
    // on every exit, so a failed round leaves no cache entry behind.
    val edges = pairs
      .select(explode(array(
        struct(col(id1).as("s"), col(id2).as("d")),
        struct(col(id2).as("s"), col(id1).as("d")))).as("__e"))
      .select(col("__e.s").as("__src"), col("__e.d").as("__dst"))
      .filter(col("__src") =!= col("__dst"))
      .repartition(col("__src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Round state: (__id, __lbl, __chg). FRONTIER (r18, guide
    // §2.3/§2.4): the step join only needs the labels of nodes whose
    // label CHANGED (__chg) last round. Exact, not a
    // heuristic: for a non-frontier neighbor u, lbl(u) is unchanged
    // since the previous round, whose step already enforced
    // lbl(v) ≤ lbl(u) for every neighbor (and the jump only lowers
    // labels further) — so u's contribution to this round's
    // neighbor-min is ≥ lbl(v) and cannot move it. Per-round labels
    // are therefore IDENTICAL to the full-join form; late rounds join
    // the edge table against the unconverged residue instead of the
    // whole label table. Round 1 starts from "everything changed".
    val init = nodes.select(col(idCol).as("__id"), col(idCol).as("__lbl"),
      lit(true).as("__chg"))
    // rows in the frontier (-1 = unknown/all): known exactly from the
    // convergence count, so a small residue can be broadcast — the
    // late-round step then probes the PERSISTED edge layout map-side
    // with no exchange at all. 1M rows ≈ 16 MB broadcast, safely under
    // driver/executor headroom at any scale.
    var frontierRows = -1L
    val broadcastCap = 1000000L
    val labels = try Rounds.run("connectedComponents", init, maxRounds) {
      (state, _) =>
        val frontier = state.filter(col("__chg"))
        // neighbor-min over the frontier: lbl'(v) = min(lbl(v),
        // min over (u,v)∈E, u∈F of lbl(u)) — equal to the all-neighbor
        // min by the frontier invariant above
        val fl = (if (frontierRows >= 0 && frontierRows <= broadcastCap)
                    broadcast(frontier) else frontier)
          .select(col("__id").as("__fid"), col("__lbl").as("__flbl"))
        val nbrMin = edges
          .join(fl, col("__src") === col("__fid"))
          .groupBy(col("__dst").as("__id2"))
          .agg(min(col("__flbl")).as("__nmin"))
        // `__prev` carries the round-start label through the jump so
        // convergence is a flag scan of the truncated state, not a
        // separate shuffle join back against the labels (r17: the old
        // per-round convergence check cost two exchanges + a join per
        // round — at corpus scale a full label-table shuffle each round).
        // The self-join below embeds `stepped` twice, but its HEAVY
        // inner pieces (the edges⨝labels neighbor-min join + partial
        // agg) are identical exchange subtrees on both sides, which
        // Catalyst's ReuseExchange deduplicates — measured r17: an
        // explicit persist() of `stepped` made rounds ~25% SLOWER
        // (cache write + lost pipeline fusion) because the duplicate
        // compute it targeted was already shared.
        val stepped = state
          .join(nbrMin, col("__id") === col("__id2"), "left")
          .select(col("__id"),
            least(col("__lbl"), coalesce(col("__nmin"), col("__lbl"))).as("__lbl"),
            col("__lbl").as("__prev"))
        // pointer jump: lbl''(v) = lbl'(lbl'(v)) — chases chains in one
        // hop (self-join on the label table, so both sides need explicit
        // aliases). Labels satisfy lbl(v) <= v invariantly (initialized
        // to v, only ever lowered), so lbl'(lbl'(v)) <= lbl'(v) and the
        // parent's label can be taken directly — no least() needed.
        // Truncation is not optional: the self-join embeds `stepped`
        // twice, so the LOGICAL plan would grow exponentially with rounds.
        Some(stepped.as("s")
          .join(stepped.as("p"), col("s.__lbl") === col("p.__id"))
          .select(col("s.__id").as("__id"), col("p.__lbl").as("__lbl"),
            (col("p.__lbl") =!= col("s.__prev")).as("__chg")))
    } { (state, _) =>
      // one scalar action per round — a LOCAL scan of the truncated
      // state's blocks (no join, no exchange). A full count, not limit(1):
      // the count IS the next frontier's size, which decides whether the
      // residue is broadcastable (same blocks scanned either way).
      frontierRows = state.filter(col("__chg")).count()
      frontierRows == 0
    } finally edges.unpersist(false)
    labels.select(col("__id").as(idCol), col("__lbl").as("cluster_id"))
  }

  /** Quality-based canonical-keeper selection: given cluster-labelled
    * members and a per-member quality column, pick ONE keeper per
    * cluster — the highest-quality member, ties broken by minimum id —
    * and label every member with its cluster's keeper. This is the
    * dedup *action*: `.filter(col("is_keeper"))` is the surviving
    * corpus, `.filter(!col("is_keeper"))` the delete list, and
    * `keeper_id` the replacement pointer an index rewrite needs.
    * [[nearDupClusters]] keeps the *minimum id* as canonical (cheap,
    * id-only); this variant keeps the *best* member — the choice
    * quality-aware pipelines make (keep the cleanest copy of a
    * boilerplate family, not the first-crawled one).
    *
    * Determinism: the arg-max key is the injective composite
    * (quality, -id), so the keeper is unique regardless of partial-agg
    * merge order — no tie can reach the engine.
    *
    * Scale shape (100 TB): `max_by`/count partial-aggregate map-side,
    * so a degenerate million-member boilerplate cluster costs one
    * combiner row per partition, never a single-task window over the
    * whole cluster; the member labelling is one hash join against the
    * one-row-per-cluster keeper table. */
  def keepBestPerCluster(members: DataFrame, idCol: String,
      clusterCol: String, qualityCol: String): DataFrame = {
    val keepers = members.groupBy(col(clusterCol))
      .agg(
        max_by(col(idCol), struct(col(qualityCol), -col(idCol)))
          .as("keeper_id"),
        count(lit(1)).as("n_members"))
    members.join(keepers, Seq(clusterCol))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
  }

  /** End-to-end near-dup cluster resolution: LSH near-dup pairs →
    * connected components → per-document (cluster_id, is_dup) where the
    * cluster's minimum doc id is the canonical keeper.
    * `.filter(!col("is_dup"))` is the dedup.
    *
    * Skew: run EXACT dedup first (the standard pipeline order, q74) so
    * byte-identical documents collapse before LSH — an identical family
    * of M docs would otherwise emit M² candidate pairs. `maxBucket`
    * additionally caps any residual degenerate (band, bucket) the way
    * [[Dedup.lshCandidates]] does. */
  def nearDupClusters(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      numHashes: Int = 16, shingleK: Int = 3, numBands: Int = 4,
      maxBucket: Option[Int] = None): DataFrame = {
    val pairs = Dedup.lshNearDupPairs(df, idCol, textCol, threshold,
      numHashes, shingleK, numBands, maxBucket)
    connectedComponents(pairs, "id_1", "id_2", df.select(col(idCol)), idCol)
      .withColumn("is_dup", col(idCol) =!= col("cluster_id"))
  }

  /** End-to-end WINNOWING dedup — [[nearDupClusters]] on the MOSS
    * fingerprint tier instead of MinHash banding:
    * [[Dedup.winnowNearDupPairs]] (capped shared-fingerprint candidates
    * → exact Jaccard confirm) → the shared pointer-jumping CC →
    * per-document (cluster_id, is_dup), min doc id canonical. Same
    * output contract as the LSH form, so the two resolve
    * interchangeably downstream (leakage-safe splits, keeper
    * selection); [[Dedup.pairSetEval]] grades one against the other. */
  def winnowClusters(
      df: DataFrame, idCol: String, textCol: String, k: Int, w: Int,
      threshold: Double, minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val pairs = Dedup.winnowNearDupPairs(df, idCol, textCol, k, w,
      threshold, minShared, maxBucket)
    connectedComponents(pairs, "id_1", "id_2", df.select(col(idCol)), idCol)
      .withColumn("is_dup", col(idCol) =!= col("cluster_id"))
  }
}
