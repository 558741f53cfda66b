package graft

/** Catalog-wide plan hygiene: no query in the driver catalog may plan an
  * accidental cartesian product or a non-scalar nested-loop join — at
  * 100 TB either is a query that never finishes. Queries that join a
  * ONE-ROW scalar aggregate (winsorization bounds, thresholds, maxima)
  * legitimately plan as BroadcastNestedLoopJoin over that single row and
  * are allow-listed by name; everything else must be hash/merge joins.
  */
class PlanHygieneSpec extends SparkSpecBase {

  /** Queries whose plan intentionally crosses with a one-row scalar
    * aggregate (the broadcast side is a single row by construction), plus
    * the brute-force vector NN baseline, whose broadcast side is the
    * bounded probe set by design (the LSH/IVF variants q55 et al. are the
    * scale path and must NOT nested-loop). */
  private val scalarCrossJoins = Set(
    "q27_not_exists_avg",
    "tpch22",
    "q50_vector_nn", "q78_kmeans",
    // rank-bound gates: each crosses the fact table with its own one-row
    // sketch aggregate (approx/t-digest quantiles, Welford state; q245's
    // is the wide mapPartitions digest row)
    "q54_approx_quantile", "q95_welford_udaf", "q96_tdigest",
    "q245_wide_quantiles",
    // winsorize composition: crosses lineitem with its own one-row
    // clipped-extremes aggregate and the two one-row covariance
    // readouts (clip bounds themselves are driver-side scalars)
    "q247_winsorize_cov",
    // array-layout wide quantiles (r17): crosses embeddings with its
    // one-row per-element t-digest readout — q245's contract on the
    // array storage layout
    "q250_wide_quantiles_array",
    // winsorizeArray composition (r17): crosses embeddings with the
    // clipped-extremes and variance one-row readouts — q247's contract
    // on the array layout
    "q251_winsorize_array",
    // bigram LM: crosses the scored bigrams with the one-row train
    // vocabulary-size aggregate
    "q131_bigram_lm",
    // collocations: crosses the joined bigram counts with the one-row
    // total-token aggregate
    "q184_collocations",
    // z-order ranges: crosses the coded rows with the one-row max(zcode)
    // aggregate that sets the equal-range width
    "q147_zorder_layout",
    // BM25: crosses the per-doc tf relation with the one-row corpus
    // stats aggregate (N, L, per-term df)
    "q157_bm25",
    // index-backed BM25: the same one-row stats cross, with the stats
    // row built from the persisted postings/doclens instead of a scan
    "q189_index_bm25",
    // quantized NN: the q50 brute-force plan (bounded broadcast probe
    // set by design) on int8 vectors
    "q165_quantized_nn",
    // persistent-IVF / IVF_PQ gates: contain q50's exact brute-force
    // sub-plan as their recall baseline
    "q171_ivf_persistent", "q176_ivf_pq",
    // filtered ANN gate: q171's probe/brute-force sub-plans with the
    // allowed-id semi-join added
    "q218_ivf_filtered",
    // retrieval eval: grades q50's nnJoin sub-plan (the bounded probe
    // cross) against the label-relevance set; q246 is the same probe
    // contract plus a bounded-probe theta join building graded qrels;
    // q249's AP@k grades the identical probe sub-plan
    "q221_retrieval_eval", "q246_ndcg", "q249_map_eval",
    // negative mining: different-label theta join against the bounded
    // broadcast anchor batch (the q50 probe contract)
    "q182_negative_sampling",
    // hybrid RRF: contains q157's one-row corpus-stats cross inside its
    // bm25TopK sub-plan (the lexical fan-out itself is an explode
    // projection, not a join)
    "q213_hybrid_rrf",
    // chi-square drift: crosses the category counts with the one-row
    // side-totals aggregate
    "q223_chi2_drift",
    // cluster pair eval: four one-row aggregates (cells/marginals/total
    // pair sums) crossed into the single readout row
    "q230_cluster_pair_eval",
    // per-group KS / χ²: the GROUP DIRECTORY (bounded by group
    // cardinality — a monitoring dimension, never data-sized)
    // broadcast-crossed with the distinct-value / category relation to
    // build the evaluation grid, plus the one-row total cross
    "q232_ks_by_group", "q233_chi2_by_group",
    // r14 quantize-first enforcement: aucExact/ksDrift cross their
    // distinct-value relation with its own ONE-ROW cardinality count —
    // the guard that raises before the single-partition ordered pass
    "q185_auc_exact", "q224_ks_drift", "q235_quantized_ks",
    "q240_auc_by_group", "q242_rank_quantized_ks",
    // streaming drift: the drained counts run q233's grid math (the
    // day directory broadcast + one-row total cross)
    "q243_streaming_drift",
    // r14 per-group calibration: the bounded source directory crossed
    // with the 10-row literal bin range to materialize unused cells
    "q236_calibration_by_group")

  /** `body` with AQE's one-partition floor at one byte. The pins here
    * guard exchanges that only hurt at scale, where
    * [[graft.plans.SmallInputCoalesce]] never fires; at the fixture's
    * size it would drop them, so the static plans are built, as
    * `graft.tools.PlanCounts` records them, with the floor out of reach. */
  private def atScale[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")(body)

  /** Built once and shared by all tests — several catalog queries do
    * eager work (sink writes, collects) at construction time, so planning
    * the whole catalog twice would double that cost. The DataFrames are
    * kept (not just plan strings) so the broadcast-hint audit can walk
    * the optimized logical plan of the same single construction. Each
    * plan is fixed inside [[atScale]] (a QueryExecution keeps it). */
  private lazy val built: Seq[(String, org.apache.spark.sql.DataFrame)] =
    atScale {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val df = fn(spark, sf())
        df.queryExecution.executedPlan
        name -> df
      }
    }

  private lazy val plans: Seq[(String, String)] =
    built.map { case (name, df) =>
      name -> df.queryExecution.executedPlan.toString
    }

  test("no query plans a cartesian product") {
    val offenders = plans.collect {
      case (name, plan) if plan.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  /** r17 (verdict item 5): structurally exclude the O(rows²) frame
    * class r16 found. Spark evaluates any window frame ENDING at
    * UnboundedFollowing whose start is not UnboundedPreceding with
    * UnboundedFollowingWindowFunctionFrame, which rescans to the
    * partition end FOR EVERY ROW — invisible on sf fixtures, a
    * 9-minute hang at 20M rows per key. The known sites were rewritten
    * as the exact-mirror reversed running frame (ts/Resample) or replaced
    * by a sorted merge (the as-of join); this catalog-wide pin flushes
    * any new site and blocks regression. Whole-partition frames
    * [unboundedpreceding, unboundedfollowing] stay allowed: Spark
    * computes those once per partition (O(rows)). */
  test("no query plans a per-row UnboundedFollowing window frame") {
    // substring walk, not a regex over the whole Window node: one node
    // prints SEVERAL windowspecdefinitions, and a greedy/lazy bound
    // capture spans frames and misreads an allowed whole-partition
    // frame as an offender. The lower bound of a frame ending at
    // unboundedfollowing$() sits between the LAST
    // "specifiedwindowframe(" before the marker and the marker itself.
    val marker = ", unboundedfollowing$())"
    val open = "specifiedwindowframe("
    val offenders = plans.flatMap { case (name, plan) =>
      Iterator.iterate(plan.indexOf(marker))(i =>
        plan.indexOf(marker, i + 1))
        .takeWhile(_ >= 0)
        .map { i =>
          val start = plan.lastIndexOf(open, i)
          plan.substring(start, i + marker.length)
        }
        .filterNot(_.contains("unboundedpreceding$()"))
        .map(f => s"$name: $f")
        .toSeq.distinct
    }
    assert(offenders.isEmpty,
      "O(rows²) per-row UnboundedFollowing frames — express forward " +
        s"fills as the reversed running frame instead: $offenders")
  }

  /** Every as-of direction runs the one sorted-merge operator: each
    * as-of catalog query plans exactly one AsofJoinExec. */
  test("every as-of query plans exactly one AsofJoinExec") {
    val asof = Set("q41_asof_join", "q42_asof_tolerance", "q49_asof_physical",
      "q80_backtest", "q205_asof_nearest")
    val counts = built.collect { case (name, df) if asof(name) =>
      name -> df.queryExecution.sparkPlan.collect {
        case e: graft.plans.AsofJoinExec => e
      }.size
    }.toMap
    assert(counts == asof.map(_ -> 1).toMap)
  }

  test("nested-loop joins appear only under one-row scalar broadcasts") {
    val offenders = plans.collect {
      case (name, plan) if !scalarCrossJoins(name) &&
        plan.contains("BroadcastNestedLoopJoin") => name
    }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: $offenders")
  }

  /** The inverse direction (round-7 verdict item 4): every allow-listed
    * name must actually plan the BroadcastNestedLoopJoin it is excused
    * for. A stale entry (the query got rewritten, Catalyst now plans a
    * hash join) silently loosens the hygiene net — q23_corr_subquery sat
    * in the list for a round with no BNLJ in its plan. Stale entries now
    * self-expire as spec failures. */
  test("every allow-listed scalar-cross query actually plans its BNLJ") {
    val byName = plans.toMap
    val missing = scalarCrossJoins.toSeq.sorted.filter { name =>
      !byName.get(name).exists(_.contains("BroadcastNestedLoopJoin"))
    }
    assert(missing.isEmpty,
      s"stale scalarCrossJoins entries (no BNLJ in plan — drop them): $missing")
  }

  /** Queries whose hint-FORCED broadcast of a corpus table is correct by
    * operator contract: the vector NN joins broadcast the PROBE set — an
    * embeddings scan filtered to the caller's query ids, bounded by the
    * probe list no matter the corpus size (same class as a bounded
    * probe side in any NN index lookup). Everything else must never
    * force a corpus broadcast: a hint bypasses Catalyst's size
    * statistics, so unlike an auto-broadcast (which flips to a shuffle
    * join once files outgrow the threshold) a forced one OOMs at 100 TB
    * unconditionally. Round-9 net, after q66's confirm joins were
    * caught broadcasting the shingle relation. */
  private val forcedCorpusBroadcastAllowed = Set(
    "q50_vector_nn", "q55_ann_lsh",
    // stored-IVF probe + its refit/exact cross-checks: the same bounded
    // probe-set broadcast on all three sub-plans
    "q171_ivf_persistent", "q173_ivf_pruned", "q174_ivf_append",
    // filtered ANN: same bounded probe-set broadcast sub-plans
    "q218_ivf_filtered",
    // retrieval eval: q50's probe broadcast inside the graded results;
    // q246's nDCG and q249's AP@k grade the same probe-batch sub-plan
    "q221_retrieval_eval", "q246_ndcg", "q249_map_eval",
    // IVF_PQ gate: ADC probes + q50's exact brute-force recall baseline
    "q176_ivf_pq",
    // the int8 variant of q50: same bounded probe-set broadcast
    "q165_quantized_nn",
    // negative mining: the anchor batch is the bounded broadcast side
    "q182_negative_sampling",
    // hybrid RRF: contains q50's nnJoin sub-plan, whose broadcast side
    // is the bounded probe set (vec_id < 3) by the probe-batch contract
    "q213_hybrid_rrf")

  test("no query hint-forces a broadcast of a raw corpus-table scan") {
    import graft.tools.BroadcastAudit
    // detector self-test: a deliberately forced corpus broadcast must be
    // caught, or the sweep below proves nothing
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val bad = docs.join(
      org.apache.spark.sql.functions.broadcast(docs.select("doc_id")), "doc_id")
    assert(BroadcastAudit.forcedCorpusBroadcasts(bad).nonEmpty,
      "BroadcastAudit hint-tier detector failed its self-test")
    val byName = built.toMap
    val offenders = built.collect {
      case (name, df) if !forcedCorpusBroadcastAllowed(name) &&
        BroadcastAudit.forcedCorpusBroadcasts(df).nonEmpty =>
        s"$name: ${BroadcastAudit.forcedCorpusBroadcasts(df).mkString(",")}"
    }
    assert(offenders.isEmpty,
      s"hint-forced corpus broadcasts (OOM at scale): $offenders")
    // inverse: stale allow-list entries self-expire as failures
    val stale = forcedCorpusBroadcastAllowed.toSeq.sorted.filter { name =>
      !byName.get(name).exists(df =>
        BroadcastAudit.forcedCorpusBroadcasts(df).nonEmpty)
    }
    assert(stale.isEmpty,
      s"stale forcedCorpusBroadcastAllowed entries (drop them): $stale")
  }

  /** Pinned static plan shapes for the most expensive catalog queries
    * (round-6 verdict item 7): exact (shuffle, broadcast) exchange
    * counts, recorded by `graft.tools.PlanCounts` under this session's
    * config. A shuffle appearing where a broadcast used to be — or an
    * extra exchange from a lost ReuseExchange/partitioning — is the
    * classic silent 10×-at-scale regression; this turns it into a spec
    * failure instead of a noisy bench delta. Update the numbers ONLY
    * after confirming the new plan is intentional (re-run PlanCounts). */
  private val pinnedShapes = Map(
    // tpch02/09 re-pinned round 9: the derived-min join-backs became
    // windows over the single shared pipeline (scan-once rewrites), so
    // the duplicated exchanges disappeared
    // tpch21 re-pinned round 9 (twice): EXISTS/NOT-EXISTS collapsed to
    // one conditional aggregate over a single lineitem⨝F-orders pass —
    // two shuffles total (join + final name agg), everything else
    // broadcast
    "tpch02" -> (2, 4), "tpch03" -> (1, 2), "tpch07" -> (4, 4),
    "tpch09" -> (3, 4), "tpch21" -> (2, 3),
    // q48 re-pinned from (1, 2): the k-way range join (one shuffle plus
    // two broadcasts) is gone, so CEP is the NFA's one key shuffle plus
    // the output sort, q111's shape
    "q36_highcard_agg" -> (1, 0), "q48_cep" -> (2, 0),
    // q66 re-pinned round 9: the Jaccard-confirm joins are forced
    // shuffle-hash — Catalyst used to broadcast the corpus-derived
    // shingle relation (accidental at toy scale, OOM at 100 TB)
    "q55_ann_lsh" -> (2, 1), "q66_lsh_near_dup" -> (8, 0),
    "q68_ngram_jaccard" -> (5, 0), "q77_pagerank" -> (1, 0),
    // round-9 pins: the round-8 multimodal/CEP surfaces (all narrow +
    // an output-sort exchange; q111's NFA adds its one key shuffle) and
    // q47, whose unexplained 3.2× bench drift in round 8 had no plan
    // change — the pin turns any future real drift into a spec failure
    "q47_tumbling_event" -> (2, 0),
    "q110_image_decode" -> (1, 0), "q111_cep_nfa_route" -> (2, 0),
    "q112_image_resize" -> (1, 0), "q113_frame_sample" -> (1, 0),
    "q114_audio_decode" -> (1, 0),
    "q116_video_decode" -> (1, 0), "q117_video_frames" -> (1, 0),
    // round-9 curation tier: q122/q124 are one shard exchange + the
    // gate's presentation sort; q123 is pure projection + sort; q121's
    // static plan is post-iteration (checkpointed labels + sort) — the
    // CC loop's own shape is spec'd in CurationSpec, not pinnable here
    "q121_neardup_clusters" -> (1, 0), "q122_seq_packing" -> (2, 0),
    "q123_pii_scrub" -> (1, 0), "q124_train_shuffle" -> (2, 0),
    // q125: source-window hash + presentation sort; q126 post-iteration
    // like q121; q127: base agg + broadcast-back + final lang agg + sort
    "q125_domain_caps" -> (2, 0), "q126_leakage_safe_split" -> (1, 0),
    "q127_corpus_mixing" -> (3, 1),
    // round-9 corpus-stats tier: q129 span-frequency agg + rebuild agg +
    // id join-back + sort, frequent-set and rebuilt-side broadcasts;
    // q130 token-count agg + per-doc agg + sort, vocab and join-back
    // broadcasts; q131 c2/c1 aggs, score-side (id,w1,w2,n) pre-agg
    // (round-10: one extra map-combined exchange that shrinks the c2/c1
    // join probes to per-doc DISTINCT bigrams) + three joins + per-doc
    // agg + sort (c2/c1/join-back broadcast at fixture scale, V cross)
    "q129_span_dedup" -> (4, 2), "q130_vocab_oov" -> (3, 2),
    "q131_bigram_lm" -> (8, 4),
    // q132: narrow chunk build + presentation sort; q133: stratum
    // window hash + presentation sort
    "q132_doc_chunking" -> (1, 0), "q133_eval_sample" -> (2, 0),
    // round-10 perceptual hashes: q134/q136/q137 are narrow decode +
    // presentation sort; the near-dup pair gates' banded self-join
    // reuses ONE (subset, key) exchange (ReuseExchange over identical
    // subtrees) + pair distinct + sort
    "q134_image_phash" -> (1, 0), "q135_image_neardup" -> (4, 0),
    "q136_audio_phash" -> (1, 0), "q137_video_phash" -> (1, 0),
    "q138_audio_neardup" -> (4, 0),
    // q139 post-iteration like q121: checkpointed labels + flag + sort
    "q139_image_clusters" -> (1, 0),
    // tpch13 (round-10): per-custkey order pre-agg BELOW the broadcast
    // left join + count-distribution agg + presentation sort — pinned so
    // the pre-aggregation pushdown can't silently regress to the
    // shuffle-every-order-row form
    "tpch13" -> (3, 1),
    // q244 composed curation pipeline (r14 verdict item 4): the static
    // plan is post-checkpoint — kept docs and keeper assignments are
    // truncated LogicalRDDs, so what remains is the packer's shard
    // exchange, the two sides of the label join-back, and the
    // presentation sort. A fifth exchange here means a checkpoint was
    // dropped and some consumer re-runs the text scan / keeper pipeline
    "q244_curation_pipeline" -> (4, 0),
    // q247 winsorize composition (r16, verdict item 6): the sketch
    // bounds are collected driver-side (one row), so clip is pure
    // projection; what remains is the clipped-extremes single-row agg,
    // the two covariance single-row aggs, and the final flag agg —
    // 4 shuffles all SinglePartition-sized, 3 one-row broadcasts
    "q247_winsorize_cov" -> (4, 3),
    // q248 multimodal composition (r16, verdict item 4): post-CC-
    // checkpoint like q139/q121 — the caption join, keeper agg +
    // join-back, cluster agg and presentation sort share 3 exchanges;
    // the 2 broadcasts (CC labels, keeper rows) are id-sized relations
    // Catalyst sizes under the threshold at fixture scale and
    // shuffle-joins at 100 TB (the q144 precedent; the autoBroadcast
    // degradation sweep proves the no-broadcast plan stays sane). A
    // jump here means a checkpoint was dropped and a consumer
    // re-decodes every image
    "q248_multimodal_pipeline" -> (3, 2),
    // q140 exact heavy hitters: candidate distinct (over the tiny
    // checkpointed sketch) + verify groupBy + presentation sort, with
    // the candidate set BROADCAST into the semi-join — the corpus-side
    // shuffle key set is candidates only, never the token universe
    "q140_heavy_hitters" -> (3, 1),
    // q141: stratum-totals agg (broadcast back) + rank window + sort
    "q141_sqrt_temp_sample" -> (3, 1),
    // q142: window-hash frequency agg (2: countDistinct's two-phase) +
    // per-doc island window + sort; flagged hashes broadcast
    "q142_substring_dup" -> (4, 1),
    // q143: test-side distinct (1) + island window + sort; the distinct
    // test window-hash set broadcasts into the train-side semi-join
    "q143_contamination_spans" -> (3, 1),
    // q144: the (id,token) tf relation is checkpointed once (its two
    // consumers double-ran the tokenize upstream — sf1 soak caught it
    // at ~2x), leaving the token df agg + score join + rank window +
    // sort; Catalyst broadcasts the small df side here — at web scale
    // its stats exceed the threshold and it shuffle-joins
    "q144_tfidf_keywords" -> (3, 1),
    // q145: every exchange carries id/band/bucket/shingle-hash columns
    // only (the lshNearDupPairs discipline); the count is high because
    // the asymmetric batch-vs-corpus sides cannot share exchanges the
    // way q66's self-join does, and the tie-proof best-match fold adds
    // an agg + join-back. Zero broadcasts: every join is shuffle-hash
    // by hint — nothing corpus-derived may be a build side (round-9
    // lesson on q66)
    "q145_incremental_neardup" -> (21, 0),
    // q146: ONE scan — the multi-distinct profile plans as Expand +
    // two-phase agg (1 exchange) + presentation sort; a per-question
    // rescan would show here as extra exchanges
    "q146_profile" -> (2, 0),
    // q147: max(zcode) single-row agg (broadcast back) + per-bucket agg
    // + sort; the Morton code itself is pure projection
    "q147_zorder_layout" -> (3, 1),
    // q149: the bounds are collected driver-side at build (overflow
    // precondition + literal-folded bin arithmetic), so the returned
    // plan is just the bin-count agg + the broadcast empties join-back
    // (the gate's sort folds into the aggregate's exchange)
    "q149_histogram" -> (1, 1),
    // q150: merge-on-read resolution is ONE key exchange (the
    // latest-wins window) + presentation sort — version chains resolve
    // without a join; q151 adds the second snapshot's resolution and
    // the key-digest full-outer join (shuffle — nothing broadcastable
    // at corpus scale)
    "q150_merge_on_read" -> (2, 0), "q151_snapshot_diff" -> (3, 0),
    // q152 post-iteration like q121/q139: checkpointed labels + sort
    "q152_embedding_clusters" -> (1, 0),
    // q153: per-stratum exact-percentile agg (broadcast back) + sort —
    // the filter itself is one scan
    "q153_quality_cut" -> (2, 1),
    // q154: (user, week) distinct + min-per-user (same key) + the
    // user join + (cohort, age) agg + sort; Catalyst broadcasts the
    // tiny cohort side at toy scale
    "q154_cohort_retention" -> (4, 1),
    // q155: the pair pipeline appears three times in the static plan
    // (the triangle join's three edge references) — ReuseExchange
    // collapses the identical banded subtrees at runtime exactly as in
    // q66's self-join; every exchange is id/band/hash-width
    "q155_neardup_triangles" -> (25, 0),
    // q156 post-iteration like q121 (checkpointed labels) + the quality
    // join-back + the map-combined keeper agg + the keeper join + sort;
    // Catalyst broadcasts the tiny quality projection and the one-row-
    // per-cluster keeper table at fixture scale
    "q156_cluster_canonical" -> (3, 2),
    // q157: per-doc tf/dl are scan-local behind a checkpoint; the ONLY
    // exchange is the one-row corpus-stats aggregate (broadcast back as
    // the scalar cross); the top-k is TakeOrderedAndProject — BM25 at
    // corpus scale is scan-bounded
    "q157_bm25" -> (1, 1),
    // q158: pure per-row projection — the single exchange is the
    // presentation sort; classifier filtering is scan-bounded
    "q158_quality_classifier" -> (1, 0),
    // q159: q66's banded pair pipeline (ReuseExchange collapses the
    // identical subtrees at runtime) + two source-lookup joins + the
    // matrix agg + sort; the (id, source) projections broadcast at
    // fixture scale but shuffle-hash at corpus scale (declared default)
    "q159_source_overlap" -> (9, 2),
    // q160: the bloom sketch is built EAGERLY at query construction
    // (one collected binary) so the planned query is only the
    // codegen'd constant-filter probe + the exact-confirm join + the
    // per-doc agg + the left join back + sort; the distinct test-gram
    // side broadcasts at fixture scale
    "q160_bloom_decontaminate" -> (3, 2),
    // q161: pure projection (NFC + lengths + hash in one codegen
    // stage); the single exchange is the presentation sort
    "q161_nfc_normalize" -> (1, 0),
    // q162: per step a map-combined min agg + a user-keyed join against
    // the previous step's user-count-sized relation (broadcast at
    // fixture scale, shuffle-hash at corpus scale) + the two left
    // joins assembling the per-user row + sort
    "q162_funnel" -> (7, 6),
    // q163: the (source, token) count agg behind a checkpoint (the
    // vocab top-k ran eagerly at build), the grid left join + the
    // per-source R agg + the drift agg + sort; the |sources|·K-row
    // grid side broadcasts
    "q163_source_drift" -> (3, 2),
    // q164: the bucketed overlap join is ONE (key, bucket)-hashed equi
    // join, FORCED shuffle-hash on both corpus-derived exploded sides
    // (a toy-scale auto-broadcast masked the real plan as a 3.5× soak
    // ratio) + the presentation sort — no BNLJ despite the inequality
    // semantics
    "q164_interval_join" -> (3, 0),
    // q165: q50's broadcast-probes shape — the data side never
    // shuffles for the join; the two exchanges are the per-probe rank
    // window and the sort
    "q165_quantized_nn" -> (2, 1),
    // q166: training runs EAGERLY at build (12 bounded argmax rounds
    // over the vocab-sized word table); the planned query is the
    // driver-local merge table + the rank sort
    "q166_bpe_train" -> (1, 0),
    // q167: the CMS build + probe ran eagerly (bounded metadata); the
    // planned query is the driver-local 20-row table + sort
    "q167_count_min" -> (1, 0),
    // q168: direct sketch+exact agg (countDistinct Expands the key) and
    // the two-level union path, joined per group + sort; the 20-row
    // group relation broadcasts
    "q168_hll_distinct" -> (5, 1),
    // q169: the user-keyed window exchange + the presentation sort
    "q169_sessionize" -> (2, 0),
    // q170: (user, hr) count agg + per-user moment agg + the user join
    // (user-count-sized side broadcasts at fixture scale) + sort
    "q170_rate_anomaly" -> (4, 1),
    // q171: four flag sub-plans (probe-twice stability, stored-vs-refit
    // equality, self-match, recall) each aggregate per probe and join
    // back on the 5-row probe key — the stored-index scans themselves
    // never shuffle for the cell join (broadcast probe side, q50's
    // shape)
    "q171_ivf_persistent" -> (11, 7),
    // q172: the JOIN itself is exchange-free (co-bucketed scans satisfy
    // its distribution — that property is the gate's flag); the two
    // exchanges are the mktsegment aggregate and the presentation sort
    "q172_bucketed_join" -> (2, 0),
    // q173/q174: two flag sub-plans each (pruned-vs-unpruned equality /
    // HEAD-vs-v1 self flags) aggregated per probe + the probe-key join
    // + presentation sort; probe sides broadcast (q50's shape)
    "q173_ivf_pruned" -> (3, 2), "q174_ivf_append" -> (3, 2),
    // q175: one Expand aggregate for all five scalar rules (two-stage)
    // + the FK branch's key agg and its dim join (dim side broadcasts
    // at fixture scale) + the union's presentation sort
    "q175_validate" -> (5, 1),
    // q176: stability + recall flag sub-plans (each per-probe agg +
    // probe-key join) over the PQ ADC probe + the exact-NN baseline +
    // presentation sort; probe sides broadcast (q50's shape)
    "q176_ivf_pq" -> (8, 4),
    // resample: (key,bucket) obs agg + key-sized span agg + the
    // presentation sort; the grid↔obs join broadcasts at fixture scale
    // (8 bounded keys) and the fill windows reuse the join's key
    // partitioning — no extra exchange for LOCF or the two-sided interp
    "q177_resample_locf" -> (3, 1),
    "q178_resample_interp" -> (3, 1),
    // q179 post-iteration like q121 (checkpointed CC labels) + the
    // size agg, its label join, and the presentation sort
    "q179_entity_resolution" -> (3, 0),
    // q180: pure projection (codegen'd strip chain) + presentation sort
    "q180_html_to_text" -> (1, 0),
    // q181: (id,bucket) dedup agg + two-phase distinct on the cover +
    // the one-row span agg + presentation sort; the bucket-sized
    // grid↔counts join broadcasts
    "q181_trailing_distinct" -> (4, 1),
    // q182: anchor-batch broadcast NLJ + per-anchor rank window +
    // presentation sort
    "q182_negative_sampling" -> (2, 1),
    // q183: driver-side paginated fetch + the presentation sort
    "q183_rest_retry" -> (1, 0),
    // q184: bigram + unigram hash aggs (the unigram side feeds both
    // count joins and the one-row N agg) + TakeOrdered; the token-keyed
    // count joins and N broadcast at fixture scale
    "q184_collocations" -> (5, 3),
    // q185: per-score agg + the single-partition cumulative pass's
    // final one-row reduce, plus (r14) the cardinality guard's one-row
    // count branch: its SinglePartition reduce + the 1-row broadcast;
    // the count branch's per-score exchange is a ReusedExchange (input
    // scanned ONCE — plan-checked), whose description string the
    // counting regex also matches, hence 4 not 3. q186: one
    // map-combined total agg
    "q185_auc_exact" -> (4, 1),
    "q186_confusion" -> (1, 0))

  /** The r14 cardinality guards (aucExact/ksDrift) add a one-row count
    * branch over the same distinct-value relation; that branch MUST
    * reuse the main branch's exchanges — without reuse every guarded
    * eval metric scans its input twice (caught live during r14: the
    * optimizer rewrote the count to count(1), pruned the branch into a
    * different subtree, and doubled the scans). */
  private val guardScans = Map("q185_auc_exact" -> 1, "q224_ks_drift" -> 2,
    "q235_quantized_ks" -> 2)

  /** The guarded queries among `byName` that scan their input more times
    * than pinned or share no exchange. */
  private def lostReuse(byName: String => org.apache.spark.sql.DataFrame): Seq[String] = {
    val scanPat = "FileScan parquet".r
    guardScans.toSeq.sortBy(_._1).flatMap { case (q, n) =>
      val df = byName(q)
      // AQE materializes reuse only at runtime: execute, then read the
      // FINAL plan section (toString appends the initial plan after it)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = scanPat.findAllIn(plan).size
      if (scans == n && plan.contains("ReusedExchange")) None
      else Some(s"$q: $scans scans (want $n), reused=" +
        plan.contains("ReusedExchange"))
    }
  }

  test("cardinality-guard branches reuse exchanges — inputs scanned once") {
    val bad = lostReuse(built.toMap)
    assert(bad.isEmpty, s"guard branch lost exchange reuse:\n" +
      bad.mkString("\n"))
  }

  test("cardinality-guard branches reuse exchanges at fixture scale too") {
    // under the default conf graft.plans.SmallInputCoalesce sees the
    // guard's twice-read input and leaves both of its exchanges in place
    val bad = lostReuse(q => SparkEntry.queries(q)(spark, sf()))
    assert(bad.isEmpty, s"guard branch lost exchange reuse:\n" +
      bad.mkString("\n"))
  }

  test("q248 decode runs once: single scan in the post-checkpoint plan") {
    // the expensive stage (PNG synthesize + decode + dHash) is
    // localCheckpoint'd — the executed plan must contain exactly ONE
    // FileScan (the caption-side documents read); a second scan means
    // the checkpoint was lost and some consumer re-runs the decode
    val byName = built.toMap
    val df = byName("q248_multimodal_pipeline")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"q248: $scans file scans (want 1 — the caption " +
      "side); the decode checkpoint was dropped")
  }

  test("exchange counts match pinned shapes for the top expensive queries") {
    val byName = plans.toMap
    val diffs = pinnedShapes.toSeq.sortBy(_._1).flatMap {
      case (name, (expShuffle, expBcast)) =>
        val (sh, bc) = graft.tools.PlanShape.counts(byName(name))
        if ((sh, bc) == ((expShuffle, expBcast))) None
        else Some(s"$name: got shuffle=$sh broadcast=$bc, " +
          s"pinned shuffle=$expShuffle broadcast=$expBcast")
    }
    assert(diffs.isEmpty, "plan shape drift (run graft.tools.PlanCounts " +
      s"and update pins only if intentional):\n${diffs.mkString("\n")}")
  }

  /** The fixture-scale counterpart of the at-scale pins: the ten queries
    * `perfbench` times, at its scales (interactive sf0.01, pipelines
    * sf0.001) and under the default conf. Every grouped aggregate,
    * partitioned window and global sort over an input under AQE's
    * one-partition floor runs in one task
    * ([[graft.plans.SmallInputCoalesce]]). Only q3's aggregate over a
    * join (sized as a product, far above the floor), q190's windows over
    * exploded postings (a `Generate` is not sized) and q157's global
    * stats aggregate (already one reducer) keep their shuffles. */
  test("the benched queries plan no exchange AQE would merge at fixture scale") {
    val pins = Seq(
      ("q3_join_inner", "sf0.01") -> ((1, 2)),
      ("q2c_grouping_sets", "sf0.01") -> ((0, 0)),
      ("q18_window_rank", "sf0.01") -> ((0, 0)),
      ("q30_string_funcs", "sf0.01") -> ((0, 0)),
      ("q90_fromseq", "sf0.01") -> ((0, 0)),
      ("q190_setsim_join", "sf0.001") -> ((5, 3)),
      ("q157_bm25", "sf0.001") -> ((1, 1)),
      ("q100_streaming_tumbling", "sf0.001") -> ((0, 0)),
      ("q208_stream_upsert", "sf0.001") -> ((0, 0)),
      ("q86_csv_roundtrip", "sf0.001") -> ((0, 0)))
    val diffs = pins.flatMap { case ((name, dir), exp) =>
      val plan = SparkEntry.queries(name)(spark, sf(dir))
        .queryExecution.executedPlan.toString
      val got = graft.tools.PlanShape.counts(plan)
      if (got == exp) None else Some(s"$name@$dir: got (shuffle, broadcast)=" +
        s"$got, pinned $exp")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  /** Streaming-gate shape pins (round-8 verdict item 6): the catalog
    * sweep above only sees the post-run memory-table plan, so the six
    * streaming gates' REAL shape — exactly one watermark and exactly one
    * stateful operator each, no stray stream-stream join — is pinned on
    * the unstarted DataFrames' analyzed plans. An extra watermark or a
    * second stateful operator is a silent state-store blow-up at scale.
    * Recorded by `graft.tools.PlanCounts --streaming`. */
  private val streamingPins: Map[String, Map[String, Int]] = {
    def shape(agg: Int, fmgws: Int, dedup: Int, union: Int) = Map(
      "EventTimeWatermark" -> 1, "Aggregate" -> agg,
      "FlatMapGroupsWithState" -> fmgws, "Deduplicate" -> dedup,
      "DeduplicateWithinWatermark" -> 0, "Join" -> 0, "Union" -> union)
    Map(
      "q100_streaming_tumbling" -> shape(1, 0, 0, 0),
      // q243's streaming leg is q100's shape keyed by event_type (the
      // drift math runs post-drain on the memory table)
      "q243_streaming_drift" -> shape(1, 0, 0, 0),
      "q101_streaming_session" -> shape(1, 0, 0, 0),
      // as-of: sentinel union + the two tagged sides' union, ONE
      // two-sided stateful operator (not a stream-stream join)
      "q104_streaming_asof" -> shape(0, 1, 0, 3),
      "q105_streaming_asof_fwd" -> shape(0, 1, 0, 3),
      "q108_streaming_hopping" -> shape(1, 0, 0, 0),
      "q109_streaming_distinct" -> shape(0, 0, 1, 1),
      // streaming NFA: sentinel union + one keyed stateful operator
      "q128_streaming_cep" -> shape(0, 1, 0, 1),
      // streaming dedup tagging: NO event time (no watermark — bounded
      // tag-this-batch contract, see Dedup.streamingNearDupTags), two
      // stream-STATIC joins (band probe + shingle confirm; zero
      // stream-stream state), one stateful op (multi-band pair dedup)
      "q148_streaming_dedup" -> Map(
        "EventTimeWatermark" -> 0, "Aggregate" -> 0,
        "FlatMapGroupsWithState" -> 0, "Deduplicate" -> 1,
        "DeduplicateWithinWatermark" -> 0, "Join" -> 2, "Union" -> 0),
      // stream-stream interval joins (r14 verdict item 5): exactly TWO
      // watermarks (one per independent source — a missing one is an
      // unbounded join buffer) and exactly ONE stream-stream join;
      // q198's two unions are the per-side end-of-stream sentinels that
      // let outer rows evict
      "q191_stream_stream_join" -> Map(
        "EventTimeWatermark" -> 2, "Aggregate" -> 0,
        "FlatMapGroupsWithState" -> 0, "Deduplicate" -> 0,
        "DeduplicateWithinWatermark" -> 0, "Join" -> 1, "Union" -> 0),
      "q198_stream_stream_outer" -> Map(
        "EventTimeWatermark" -> 2, "Aggregate" -> 0,
        "FlatMapGroupsWithState" -> 0, "Deduplicate" -> 0,
        "DeduplicateWithinWatermark" -> 0, "Join" -> 1, "Union" -> 2))
  }

  /** The 100 TB degradation sweep: at scale NO corpus table fits under
    * the auto-broadcast threshold, so every catalog query must still
    * plan sane joins when auto-broadcast is off entirely. A query that
    * only avoids a cartesian product because Catalyst happened to
    * broadcast a toy-scale side would pass every other test here and
    * melt down on a real cluster — this sweep re-plans the catalog with
    * `autoBroadcastJoinThreshold=-1` and rejects cartesians and
    * non-allow-listed nested-loop joins. Hint-forced broadcasts (the
    * one-row scalar crosses, the bounded NN probe sets) are unaffected
    * by the threshold and stay allow-listed. MUST run after the tests
    * above: they force `built`'s plans under the default conf first
    * (QueryExecutions cache their plans, so ordering keeps both views
    * consistent). */
  test("every query degrades to shuffle joins when auto-broadcast is off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try {
          val plan = fn(spark, sf()).queryExecution.executedPlan.toString
          val cart = plan.contains("CartesianProduct")
          val bnlj = plan.contains("BroadcastNestedLoopJoin")
          if ((cart || bnlj) && !scalarCrossJoins(name))
            Some(s"$name:${if (cart) "cartesian" else "bnlj"}")
          else None
        } catch {
          case scala.util.control.NonFatal(e) =>
            Some(s"$name:THREW ${e.getClass.getSimpleName}")
        }
      }
      assert(bad.isEmpty,
        s"queries that depend on toy-scale auto-broadcast: $bad")
    } finally spark.conf.set(key, prev)
  }

  /** Bench-fidelity pin: Catalyst prunes under a bare `df.count()` —
    * unused window expressions vanish and a left join whose right side
    * is aggregate-unique on the join key is eliminated outright, so a
    * count-timed bench measures a fraction of eleven catalog queries'
    * pipelines (both as-of joins, the left join, the shift/sliding
    * windows, tpch09, the backtest). Bench therefore times
    * `Bench.force` (a noop-sink write, which requires every output
    * column). This test pins that behavior observably: an accumulator
    * bumped inside a projected-but-never-filtered-on column must fire
    * under Bench.force, while the same column under count() is pruned
    * and never evaluates. */
  test("Bench.force evaluates columns that a bare count() prunes") {
    val acc = spark.sparkContext.longAccumulator("forceProbe")
    val bump = org.apache.spark.sql.functions.udf { (x: Long) =>
      acc.add(1L); x
    }
    val df = spark.range(100).toDF("id")
      .withColumn("probe", bump(org.apache.spark.sql.functions.col("id")))
    df.count()
    assert(acc.value == 0L,
      "count() evaluated the probe column — the pruning premise changed")
    Bench.force(df)
    assert(acc.value == 100L,
      s"Bench.force evaluated ${acc.value}/100 probe rows — the noop " +
        "write no longer forces full-column evaluation")
  }

  test("streaming gates pin exactly one watermark + one stateful operator") {
    import graft.queries.GateQueries
    val d = sf()
    val built: Map[String, org.apache.spark.sql.DataFrame] = Map(
      "q100_streaming_tumbling" -> GateQueries.q100Plan(spark, d),
      "q243_streaming_drift" -> GateQueries.q243Plan(spark, d),
      "q101_streaming_session" -> GateQueries.q101Plan(spark, d),
      "q104_streaming_asof" -> GateQueries.q104Plan(spark, d),
      "q105_streaming_asof_fwd" -> GateQueries.q105Plan(spark, d),
      "q108_streaming_hopping" -> GateQueries.q108Plan(spark, d),
      "q109_streaming_distinct" -> GateQueries.q109Plan(spark, d),
      "q128_streaming_cep" -> GateQueries.q128Plan(spark, d),
      "q148_streaming_dedup" -> GateQueries.q148Plan(spark, d),
      "q191_stream_stream_join" -> GateQueries.q191Plan(spark, d),
      "q198_stream_stream_outer" -> GateQueries.q198Plan(spark, d))
    val diffs = streamingPins.toSeq.sortBy(_._1).flatMap { case (name, exp) =>
      val got = graft.tools.PlanShape.streamingNodeCounts(built(name))
      if (got == exp) None
      else Some(s"$name: got $got, pinned $exp")
    }
    assert(diffs.isEmpty, "streaming shape drift (run graft.tools.PlanCounts" +
      s" --streaming and update pins only if intentional):\n" +
      diffs.mkString("\n"))
  }
}
