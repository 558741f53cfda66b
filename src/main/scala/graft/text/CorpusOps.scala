package graft.text

import graft.functions.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistics operators for training-data builds:
  * tokenizer vocabulary induction with out-of-vocabulary rates, and
  * held-out bigram language-model fluency scoring (the CCNet-style
  * "score each document against an LM trained on the corpus" quality
  * axis). Like the rest of the curation tier these re-express steps the
  * reference's scan → groupby → join pipeline surface is used for
  * (pyquokka/datastream.py) as declarative Spark plans.
  */
object CorpusOps {

  /** Top-`k` corpus vocabulary by token frequency, deterministic at the
    * boundary (ties broken by token text ascending — reruns and engines
    * agree on the exact vocabulary, which a tokenizer build requires).
    *
    * Scale shape: one hash exchange of (token, partial count) with
    * map-side combine, then a global top-k (TakeOrderedAndProject — k
    * rows to the driver, never the full token table). Returns
    * (token, n, rank) with rank 1-based. */
  def topKVocab(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token").asc)).cast("long"))
  }

  /** Per-document out-of-vocabulary rate against a vocabulary relation
    * exposing a `token` column (typically [[topKVocab]]'s output): the
    * fraction of token INSTANCES not in the vocabulary — the signal a
    * tokenizer/coverage audit wants per document. The single-partition
    * window in topKVocab's rank never sees more than k rows; the
    * per-doc aggregate here is one hash exchange on doc id after a
    * broadcast lookup (vocabularies are k rows by construction).
    *
    * Returns (idCol, n_tokens, n_oov, oov_rate); zero-token documents
    * get rate 0.0. */
  def oovRates(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val marked = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .join(broadcast(vocab.select(col("token"), lit(true).as("__in"))),
        Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol)).join(marked, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_oov").cast("double") /
            col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** (id, w1, w2) adjacent-token bigrams, built per row (scan-local —
    * no exchange; the per-row `transform` shares one tokenization). */
  private def bigrams(df: DataFrame, idCol: String, textCol: String) = {
    val bgType = "array<struct<w1:string,w2:string>>"
    df.select(col(idCol),
        TextOps.bindOnce(TextOps.tokens(col(textCol))) { tt =>
          // sequence(0, -1) would generate a DESCENDING ramp, not empty
          when(size(tt) < 2, lit(null).cast(bgType))
            .otherwise(transform(sequence(lit(0), size(tt) - lit(2)),
              i => struct(element_at(tt, i + 1).as("w1"),
                element_at(tt, i + 2).as("w2"))))
        }.as("__b"))
      .select(col(idCol), explode(col("__b")).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  /** Held-out bigram-LM fluency score: train add-one-smoothed bigram
    * counts on `train`, score each `score` document as its MEAN
    * transition probability p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), where
    * c(w1·) is the bigram-prefix count and V the train vocabulary size.
    *
    * Mean PROBABILITY, not log-perplexity, on purpose: every term is a
    * ratio of integers (IEEE division is exactly rounded, so Spark and
    * any other engine produce bit-identical doubles), whereas ln/log2
    * differ at the last ulp between libm implementations — a
    * cross-engine-verifiable fluency score cannot contain a transcendental.
    * The per-doc mean runs through [[Det.dsum]] (scale 12) so the sum is
    * partition-order-independent on a cluster.
    *
    * Scale shape: counts are two hash aggregates over bigram/prefix keys
    * (map-side combined; c1 derives from c2, so the corpus is bigrammed
    * once per side); V is a one-row aggregate broadcast back. The score
    * side pre-aggregates to distinct (id, w1, w2) with multiplicity n
    * BEFORE the c2/c1 probes — a document repeating a bigram k times
    * joins once, not k times, so the join input is the per-doc DISTINCT
    * bigram count (sublinear in token count on natural text) while the
    * mean stays over the full instance multiset via [[Det.dsumWeighted]]
    * (bit-identical to scoring every instance: n exact-integer copies of
    * the same rounded term). Two hash joins keyed on (w1,w2)/(w1) —
    * linear shuffle volume in corpus size, no text wider than two tokens
    * on any exchange.
    *
    * Returns (idCol, n_bigrams, mean_p); documents with fewer than two
    * tokens score 0.0. */
  def bigramLmScore(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val c2 = bigrams(train, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("__c2")).as("__c1"))
    val v = train
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .agg(countDistinct(col("token")).as("__v"))
    val scored = bigrams(score, idCol, textCol)
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("__n"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col(idCol), col("__n"),
        ((coalesce(col("__c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double"))
          .as("__p"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        (Det.dsumWeighted(col("__p"), col("__n"), 12) / sum(col("__n")))
          .as("mean_p"))
    score.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Collocation mining: the corpus's top-`k` adjacent-token bigrams by
    * pointwise mutual information, with PMI in the catalog's
    * transcendental-free integer form (q144's discipline): since log is
    * monotone, ranking by PMI equals ranking by its argument, scored as
    * `score = c_xy · N · 10^6 div (c_x · c_y)` — exact integer
    * arithmetic, identical on every engine, ties broken by (w1, w2).
    * `minCount` drops rare pairs (PMI's classic degenerate top: two
    * hapaxes that co-occur once).
    *
    * Scale shape: one bigram hash agg + one unigram hash agg (both
    * map-combined), two token-keyed joins, the one-row N aggregate
    * broadcast back, TakeOrdered top-k. Domain bound: the long score
    * needs c_xy·N·10^6 < 2^63 — run per corpus shard (or drop the
    * scale factor) past ~10^12 tokens.
    *
    * Returns (w1, w2, c_xy, c_x, c_y, score), score-descending. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long): DataFrame = {
    require(k > 0 && minCount >= 1, s"bad k=$k / minCount=$minCount")
    val bg = bigrams(df, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = df.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("__c"))
    val n = uni.agg(sum(col("__c")).as("__n"))
    bg.join(uni.select(col("w").as("w1"), col("__c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("__c").as("c_y")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("score", expr("c_xy * __n * 1000000 div (c_x * c_y)"))
      .orderBy(col("score").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("score"))
  }

  /** BM25 retrieval scoring against a fixed query-term set, top-`k`
    * documents — the ranking function a corpus-curation build uses for
    * targeted retrieval (eval-set mining, topic probes) over the same
    * token layer the dedup tier hashes.
    *
    * Scoring is the exact BM25 shape with k1 = 6/5, b = 3/4 and a
    * RATIONAL idf: score = Σ_t idf_t · sat_t with
    * idf_t = (N − df_t + 1)/(df_t + 1) and the saturation term
    * multiplied through by 10·L to clear avgdl = L/N:
    * sat_t = 22·tf·L / (10·tf·L + 3·L + 9·dl·N). Classical BM25 takes
    * ln of the idf ratio; ln is a transcendental whose last ulp varies
    * across libm implementations, so a cross-engine-verifiable score
    * cannot contain it (the catalog-wide rule) — the rational idf keeps
    * the same monotone df ordering. Every factor is an integer-valued
    * double (exact below 2^53) flowing through a fixed-association
    * expression, so any IEEE-754 engine reproduces the score
    * bit-for-bit. Ties break by doc id.
    *
    * Scale shape (100 TB): per-doc tf/dl are scan-local (one tokenize
    * per row, no exchange); the corpus stats (N, L, one df per term)
    * are ONE single-row aggregate broadcast back; the top-k is a
    * TakeOrderedAndProject — k rows to the driver, never a global
    * sort. Zero data-sized shuffles end to end.
    *
    * Returns (idCol, dl, tf_<term>…, score) for the top-`k` docs with
    * score > 0 (at least one query term present). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct.size == terms.size,
      s"bm25TopK terms must be distinct (duplicates would alias-clash): $terms")
    require(k > 0, s"k must be positive, got $k")
    // internal columns named by term INDEX (tf_0, …): a raw term with
    // '.', a space, or a backtick would mis-resolve in col()/struct
    // field access; the output aliases back to tf_<term> via as(),
    // which never parses (q157/q189 pin those output names)
    val ti = terms.zipWithIndex
    val base = df.select(Seq(
      col(idCol),
      TextOps.bindOnce(TextOps.tokens(col(textCol))) { tt =>
        struct(size(tt).cast("long").as("dl") +:
          ti.map { case (t, i) =>
            size(filter(tt, x => x === lit(t))).cast("long").as(s"tf_$i")
          }: _*)
      }.as("__s")): _*)
      .select(col(idCol) +: col("__s.dl").as("dl") +:
        ti.map { case (_, i) => col(s"__s.tf_$i").as(s"tf_$i") }: _*)
      // the stats aggregate and the scored scan both consume this slim
      // relation; checkpoint so the tokenize runs once (q144 rationale)
      .localCheckpoint(true)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len") +:
        ti.map { case (_, i) =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_tf_$i")
        }: _*)
    val nD = col("n_docs").cast("double")
    val lD = col("total_len").cast("double")
    val score = ti.map { case (_, i) =>
      val tf = col(s"tf_$i").cast("double")
      val dfv = col(s"df_tf_$i").cast("double")
      val idf = (nD - dfv + lit(1.0)) / (dfv + lit(1.0))
      val sat = (lit(22.0) * tf * lD) /
        (lit(10.0) * tf * lD + lit(3.0) * lD + lit(9.0) * col("dl").cast("double") * nD)
      idf * sat
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("score", score)
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol) +: col("dl") +:
        ti.map { case (t, i) => col(s"tf_$i").as(s"tf_$t") } :+
        col("score"): _*)
  }

  /** Hashed linear text classifier — the fastText-style model-based
    * quality-filter shape (hash features into buckets, dot with a
    * weight vector, threshold): unigram token hashes plus adjacent
    * bigram hashes (polynomial combine, the shingle-hash arithmetic
    * with k = 2, multiplicity preserved) bucketed mod `numBuckets`,
    * scored by a deterministic weight table
    * w(bucket) = (bucket·2654435761 + 12345) mod P − ⌊P/2⌋.
    * The weights are a documented stand-in for trained parameters (no
    * training framework exists in this environment); the distributed
    * shape — feature hashing, bucket lookup, integer dot product — is
    * exactly what serving a real fastText/linear quality model needs,
    * and swapping a trained table in changes one expression.
    *
    * The score is a sum of int64 terms — exact, associative, partition-
    * order-free — so the keep/drop decision is bit-reproducible on any
    * engine (no float dot product to diverge).
    *
    * Scale shape: pure per-row projection inside one codegen stage —
    * no exchange, no UDF; classifier filtering at 100 TB is
    * scan-bounded.
    *
    * Returns (idCol, n_feats, score, keep) with keep = score ≥ 0. */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val P = TextOps.P
    val halfP = P / 2
    val A = 2654435761L
    val C = 12345L
    def w(h: Column): Column = (pmod(h, lit(numBuckets.toLong)) * A + C) % P - halfP
    val out = df.select(Seq(
      col(idCol),
      TextOps.bindOnce(TextOps.tokenHashes(col(textCol))) { hs =>
        val uni = aggregate(hs, lit(0L), (acc, h) => acc + w(h))
        val big = when(size(hs) < 2, lit(0L)).otherwise(
          aggregate(
            transform(sequence(lit(1), size(hs) - 1),
              i => (element_at(hs, i) * TextOps.B + element_at(hs, i + 1)) % P),
            lit(0L), (acc, h) => acc + w(h)))
        struct(
          (size(hs) + greatest(size(hs) - 1, lit(0))).cast("long").as("n_feats"),
          (uni + big).as("score"))
      }.as("__s")): _*)
    out.select(col(idCol), col("__s.n_feats").as("n_feats"),
      col("__s.score").as("score"), (col("__s.score") >= 0L).as("keep"))
  }

  /** Per-source token-distribution drift vs the whole corpus — the
    * audit a corpus build runs to catch a crawl source whose content
    * shifted (spam influx, template change, language drift) before it
    * pollutes a training mix. The statistic is an INTEGER-EXACT total
    * variation distance over the corpus's top-`vocabK` tokens:
    * for source s with vocab-token total R_s, token t with source
    * count o and global count C (N = ΣC over the vocab),
    * drift_num = Σ_t |o·N − R_s·C| and
    * TV = drift_num / (2·N·R_s), reported as ⌊drift_num·10⁶/(2·N·R_s)⌋
    * millionths — every step is int64 arithmetic, so the score is
    * bit-reproducible on any engine (KL divergence needs a log; the
    * catalog bans transcendentals from gated outputs; TV is the
    * standard rational alternative with the same "how far from the
    * corpus mix" reading).
    *
    * Zero counts are materialized (a vocab token MISSING from a source
    * is drift, not absence of evidence): the (source × vocab) grid is
    * built by exploding the driver-collected vocab — `vocabK` rows of
    * bounded metadata, same transfer class as OrderStat — under each
    * distinct source, then left-joining the observed counts.
    *
    * Scale shape (100 TB): the (source, token) count aggregate is
    * map-combined (Zipf-heavy tokens cost one partial per partition);
    * the vocab is a vocabK-row top-k; everything after operates on
    * |sources|·vocabK rows. int64 headroom: drift_num·10⁶ needs
    * 2·N·R_s·10⁶ < 2⁶³ — beyond ~10⁹ vocab-token instances per source,
    * widen the final division to decimal(38,0).
    *
    * Returns (sourceCol, n_vocab_instances, r_vocab, drift_num,
    * tv_millionths) ordered nowhere; callers sort. */
  def sourceDrift(df: DataFrame, sourceCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    require(vocabK > 0, s"vocabK must be positive, got $vocabK")
    val st = df
      .select(col(sourceCol), explode(TextOps.tokens(col(textCol))).as("__t"))
      .groupBy(col(sourceCol), col("__t"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(true) // vocab top-k and the grid join both read it
    val vocabRows = st.groupBy(col("__t")).agg(sum(col("__o")).as("__c"))
      .orderBy(col("__c").desc, col("__t")).limit(vocabK)
      .collect()
    val n = vocabRows.map(_.getLong(1)).sum
    val vocabLit = array(vocabRows.map(r =>
      struct(lit(r.getString(0)).as("__t"), lit(r.getLong(1)).as("__c"))): _*)
    val grid = df.select(col(sourceCol)).distinct()
      .select(col(sourceCol), explode(vocabLit).as("__v"))
      .select(col(sourceCol), col("__v.__t").as("__t"), col("__v.__c").as("__c"))
    val joined = grid.join(st, Seq(sourceCol, "__t"), "left")
      .select(col(sourceCol), col("__c"),
        coalesce(col("__o"), lit(0L)).as("__o"))
    val rs = joined.groupBy(col(sourceCol))
      .agg(sum(col("__o")).as("__r"))
    joined.join(rs, Seq(sourceCol))
      .groupBy(col(sourceCol))
      .agg(
        max(col("__r")).as("r_vocab"), // constant within the group
        sum(abs(col("__o") * n - col("__r") * col("__c"))).as("drift_num"))
      .select(col(sourceCol), lit(n).as("n_vocab_instances"),
        col("r_vocab"), col("drift_num"),
        when(col("r_vocab") > 0,
          expr(s"(drift_num * 1000000L) div (2L * $n * r_vocab)"))
          .as("tv_millionths"))
  }

  /** Per-document top-`k` tf-idf keywords with an integer-exact score:
    * score = ⌊tf · 10¹² / df⌋ (df = distinct documents containing the
    * token). Rank-equivalent to classical tf · (N/df) for a fixed corpus
    * (N is a constant positive factor), but pure integer arithmetic — no
    * logarithm, so the ranking is bit-reproducible on any engine (the
    * transcendental-free rule every gated score here follows); ties
    * break by token text ascending. The 10¹² scale keeps distinct tf/df
    * ratios distinct up to trillion-token corpora while tf · 10¹² stays
    * far inside int64 for any real document.
    *
    * Scale shape: tf is one hash aggregate on (id, token); df derives
    * from tf by a second aggregate on token (no rescan); the score join
    * is keyed on token with no broadcast hint (a web-scale token
    * universe is not broadcastable; Catalyst still broadcasts a small
    * one); the top-k is a per-doc window on the id exchange.
    *
    * Returns (idCol, kw_rank, token, tf, df, score), kw_rank 1-based. */
  def tfIdfKeywords(df: DataFrame, idCol: String, textCol: String, k: Int)
      : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // materialize the slim (id, token, tf) relation ONCE: both the df
    // aggregate and the score join consume it, and the upstream
    // tokenize + explode (the expensive part at corpus scale) must not
    // run per consumer (the q127/q153 diamond rationale)
    val tf = df.select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // tf is already distinct per (id, token), so count(*) IS the
    // distinct-document frequency — no countDistinct pass needed
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .withColumn("score",
        expr("tf * 1000000000000 div df"))
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .filter(col("kw_rank") <= k)
      .select(col(idCol), col("kw_rank"), col("token"), col("tf"),
        col("df"), col("score"))
  }
  /** Reciprocal-rank fusion (RRF) of two top-C rank lists — the hybrid
    * retrieval combiner that merges a lexical ranking (BM25, q157) with
    * a vector ranking (cosine ANN, q50/q55) per probe:
    * score(d) = Σ_list 1/(K + rank_list(d)), unranked lists contribute
    * 0. Computed INTEGER-EXACT as `scale div (K + rank)` (int64 floor
    * division, positive domain) so the fused score — not just the
    * order — is engine-reproducible. K = 60 is the standard RRF
    * constant; `scale` = 10¹² keeps three distinct contributions well
    * below 2⁶³ while separating every (K + rank) value below ~10⁶.
    *
    * Inputs are two rank relations (groupCol, idCol, rankCol) with
    * rank ≥ 1 (each group's list is the caller-bounded top-C — the
    * fusion never sees the corpus, only 2·C rows per group). Missing
    * ranks surface as the sentinel 0, NOT null, so downstream hashes
    * and cross-engine compares never meet engine-specific null
    * ordering.
    *
    * Scale shape (100 TB): one hash full-outer join on (group, id)
    * over top-C-bounded lists + a per-group window over ≤ 2·C rows —
    * cost ∝ probes·C regardless of corpus size; the expensive parts
    * (BM25 stats, ANN pruning) stay in their own scale-shaped
    * operators upstream.
    *
    * Returns (groupCol, idCol, r_a, r_b, rrf, rank), rank 1-based by
    * (rrf desc, id asc), filtered to the fused top-`k`. */
  def rrfFuse(a: DataFrame, b: DataFrame, groupCol: String, idCol: String,
      rankCol: String, k: Int, kRrf: Long = 60L,
      scale: Long = 1000000000000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(kRrf >= 0 && scale > 0, s"bad kRrf=$kRrf / scale=$scale")
    def side(df: DataFrame, as: String) =
      df.select(col(groupCol).as("__g"), col(idCol).as("__i"),
        col(rankCol).cast("long").as(as))
    // USING-join coalesces the (group, id) key across both sides
    val j = side(a, "r_a").join(side(b, "r_b"), Seq("__g", "__i"),
        "full_outer")
      .select(col("__g").as(groupCol), col("__i").as(idCol),
        coalesce(col("r_a"), lit(0L)).as("r_a"),
        coalesce(col("r_b"), lit(0L)).as("r_b"))
    def contrib(r: String) = expr(
      s"CASE WHEN $r > 0 THEN $scale div ($kRrf + $r) " +
        "ELSE CAST(0 AS BIGINT) END")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("rrf").desc, col(idCol).asc)
    j.withColumn("rrf", (contrib("r_a") + contrib("r_b")).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
