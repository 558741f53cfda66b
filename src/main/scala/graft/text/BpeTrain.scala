package graft.text

import graft.iter.Rounds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning — the tokenizer-TRAINING half of the
  * BPE story (the counting half, applying a GIVEN merge table, is the
  * codegen'd `graft.functions.BpeCount` behind q106). The reference
  * leaves tokenizer training to external tools; a 100 TB corpus build
  * wants it in-engine, over the same token layer everything else uses.
  *
  * Algorithm (Sennrich-style word-internal BPE):
  * 1. Compress the corpus to a (word, freq) table — vocabulary-sized,
  *    typically 10⁵–10⁷ rows regardless of corpus bytes. THIS is what
  *    makes distributed BPE training cheap: every later iteration
  *    touches word types, never corpus tokens.
  * 2. Each word starts as its character sequence. Per round: count
  *    adjacent symbol pairs weighted by word freq (map-combined sum —
  *    one partial row per partition per pair), select a BATCH of
  *    non-interacting top merges (below), and rewrite every word with
  *    one compiled `bpe_merge_batch` pass. Each round is one
  *    [[graft.iter.Rounds]] round, which truncates the rewritten words;
  *    a round that finds no adjacent pair ends the loop with no rewrite.
  *
  * Batched selection (round-11: a 32k-merge vocabulary must not cost
  * 32k sequential Spark jobs) is EXACT, not approximate — the learned
  * table is bit-identical to one-merge-per-round training:
  *  - Walk pairs in rank order (count desc, left, right). Select a
  *    PREFIX, stopping at the first pair that interacts with any
  *    already-selected merge — shares a symbol with its components OR
  *    its merged output (an output collision changes the later pair's
  *    count: merging (a,b) mints new "ab" symbols, which adds
  *    adjacencies to any pair with "ab" as a component).
  *  - Let c* be the count of the first non-selected pair (0 if the
  *    pair list is exhausted). Keep only selected merges with
  *    count > c*. Proof of exactness: applying a selected merge leaves
  *    every later selected pair's count unchanged (symbol-disjoint,
  *    and a merge never increases a disjoint pair's adjacency count);
  *    every pair it creates involves its output symbol and is bounded
  *    by the count of an interacting pre-pair, which ranks at or below
  *    the stopper, so its count is ≤ c* — strictly below every kept
  *    merge. Hence each kept merge is still the global argmax at its
  *    turn. The trim is what makes tie chains safe: a created pair may
  *    TIE c* and win the (count, left, right) order against a kept
  *    merge of the same count, so equal-count tails are never batched.
  *  - The first-ranked pair is always kept (round 1 is the literal
  *    argmax), so progress is guaranteed.
  *
  * Driver coordination per round is ≤ batchCap+1 collected rows —
  * bounded metadata, same transfer class as OrderStat.
  *
  * Determinism: pair counts are exact int64 sums of word frequencies;
  * the selection key (count, left, right) is injective; the batch
  * rewrite applies merges in rank order as pure per-row passes. Same
  * corpus ⇒ identical merge table at any parallelism or batchCap. */
object BpeTrain {

  /** Learn up to `numMerges` merges from the corpus text; returns the
    * merge table (rank, left, right, merged, pair_count) — rank 1 is
    * the first (most frequent) merge. Stops early when no adjacent
    * pair remains. `batchCap` bounds merges learned per Spark round;
    * any value yields the identical table. */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int,
      batchCap: Int = 64): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(batchCap > 0, s"batchCap must be positive, got $batchCap")
    val spark = df.sparkSession
    // corpus -> (word, freq): the one corpus-sized pass
    val words = df
      .select(explode(TextOps.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
    // each word starts as its character (codepoint) sequence
    val init = Rounds.truncate(words.select(col("__f"),
      expr("transform(sequence(1, char_length(__w)), i -> substring(__w, i, 1))")
        .as("__t")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    // every round keeps at least one merge, so by round numMerges the
    // step has ended the loop (None) on its own
    Rounds.run("learnMerges", init, numMerges) { (state, _) =>
      val want = math.min(batchCap, numMerges - merges.size)
      val top = state
        .filter(size(col("__t")) >= 2)
        .select(col("__f"), explode(
          expr("transform(sequence(1, size(__t) - 1), " +
            "i -> struct(__t[i - 1] AS l, __t[i] AS r))")).as("__p"))
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__f")).as("__c"))
        .orderBy(col("__c").desc, col("__l"), col("__r"))
        .limit(want + 1)
        .collect()
      if (top.isEmpty) None
      else {
        // non-interacting prefix selection (see scaladoc)
        val used = scala.collection.mutable.HashSet.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var cStar = 0L
        var i = 0
        var stopped = false
        while (i < top.length && !stopped) {
          val (l, r, c) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (sel.size == want || used(l) || used(r) || used(l + r)) {
            stopped = true; cStar = c
          } else {
            sel += ((l, r, c)); used += l; used += r; used += (l + r)
          }
          i += 1
        }
        // equal-count tail is unsafe under ties with created pairs;
        // the leading argmax is always exact
        val kept0 = sel.takeWhile(_._3 > cStar)
        val kept = if (kept0.isEmpty) sel.take(1) else kept0
        kept.foreach { case (l, r, c) =>
          merges += ((merges.size + 1, l, r, l + r, c))
        }
        // the round that reaches numMerges ends the loop: nothing reads
        // its rewritten words
        if (merges.size >= numMerges) None
        else {
          val mergeList = array(kept.toSeq.map { case (l, r, _) =>
            lit(l + "\u0000" + r) }: _*)
          Some(state.select(col("__f"),
            call_function("bpe_merge_batch", col("__t"), mergeList).as("__t")))
        }
      }
    } { (_, _) => false }
    import spark.implicits._
    merges.toSeq
      .toDF("rank", "left", "right", "merged", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("left"),
        col("right"), col("merged"), col("pair_count"))
  }
}
