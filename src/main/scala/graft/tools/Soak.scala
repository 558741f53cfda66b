package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

/** Scale soak: synthesizes replicated copies of the sf0.1 fixtures and
  * times catalog queries at every scale in one session — the cheapest
  * local proxy for the 100-TB design claims (shuffle volume must grow
  * linearly; no query may fall off a superlinear cliff).
  *
  * The replica factor picks one row of [[factors]]; everything else runs
  * the same code:
  *   - `10` (round-6 verdict item 5): a 10× copy of every table under
  *     `target/sf1`; the soak-breadth list, timed at sf0.1 and sf1, into
  *     `BENCH_sf1.json`.
  *   - `100` (r13 verdict item 2): also a 100× copy of the documents and
  *     events tables (the two the flagships read) under `target/sf10`;
  *     the flagship dedup/ER/CC/streaming pipelines, timed at sf0.1, sf1
  *     and sf10, into `BENCH_100x.json`. The number to read is
  *     `ratio_100x_over_10x` = t(100×)/t(10×): a linear operator sits
  *     near 10 with its fixed overhead amortized; a quadratic one
  *     explodes.
  *
  * Replication preserves join/key semantics instead of naively unioning
  * identical rows: each replica i offsets every key family by
  * i × (a constant above the key's true maximum), so fact↔dim joins have
  * the same fan-out per key as the original and group cardinalities
  * scale like real data. Document text is rewritten per replica by a
  * length-preserving letter map so cross-replica Jaccard/MinHash
  * similarity is low — a naive copy would make every doc an n-way
  * near-duplicate and quadratically inflate the dedup candidate sets,
  * which real data does not do. Events offset user_id per replica:
  * per-key time density (what CEP/window cost scales with) stays
  * constant.
  *
  * Each ledger is CUMULATIVE (round-11 verdict item 3): a subset re-soak
  * carries every prior entry forward, and a prior ledger that does not
  * parse fails the run instead of being overwritten.
  *
  * Usage: `sbt "runMain graft.tools.Soak 10 [q…]"` or
  * `sbt "runMain graft.tools.Soak 100 [q…]"` (~10 GiB heap for 100);
  * query names after the factor soak only those queries (a dev subset —
  * the recorded sweep runs the full list). */
object Soak {

  /** One replicated fixture set under `dir`: `replicas` copies of each of
    * `tables` plus one shared copy of each of `shared`. Replica i adds
    * i × `offset` to every key family and maps document text through
    * `text(_, i)`. */
  private[graft] final case class Replica(dir: String, replicas: Int,
      offset: Long, text: (Column, Int) => Column, tables: Seq[String],
      shared: Seq[String] = Nil)

  /** What one replica factor soaks: the fixture sets it times after the
    * sf0.1 fixtures (smallest first), its query list, the fixture tables each
    * query reads (a query listed here records `rows_in`/`rows_out`), its
    * ledger, and an entry's per-scale time fields and ratio fields
    * (name, numerator scale, denominator scale; scale 0 is sf0.1). */
  private[graft] final case class Factor(replicas: Seq[Replica],
      queries: Seq[String], inputTables: Map[String, Seq[String]],
      ledger: String, timeFields: Seq[String],
      ratioFields: Seq[(String, Int, Int)])

  /** Per-replica text transform for the 10× build: length-preserving
    * letter rotation that kills cross-replica shingle overlap. For
    * i < 12 the second rotation is the identity, so the 10-replica sf1
    * fixture is byte-identical to the historical single-alphabet
    * build. NOT suitable for 100 replicas — replicas with equal
    * i mod 12 would share the whole first-alphabet letter class and
    * hence every common-word shingle; [[permuteText]]'s full-alphabet
    * permutation family covers that case. */
  private[tools] def rotateText(c: Column, i: Int): Column = {
    val a1 = "etaoinshrdlc"; val a2 = "bfgjkmpquvwxyz"
    val r1 = i % a1.length; val r2 = (i / a1.length) % a2.length
    if (r1 == 0 && r2 == 0) c
    else translate(c, a1 + a2,
      a1.drop(r1) + a1.take(r1) + a2.drop(r2) + a2.take(r2))
  }

  /** Per-replica text transform for the 100× build: the full-alphabet
    * permutation π_i = ρ^(i mod 26) ∘ σ^(i div 26), where ρ rotates the
    * natural alphabet and σ rotates a fixed scrambled ordering. Any two
    * distinct replicas differ on every letter when they share a ρ- or
    * σ-power (a nonidentity rotation has no fixed points), and on all
    * but ~1 letter otherwise — so no letter CLASS (and hence no
    * common-word shingle family) is shared across replicas, unlike a
    * single rotation family (r14 review). i = 0 is the identity. NOT a
    * drop-in for [[rotateText]]: it would change the recorded 10×
    * fixture. */
  private[tools] def permuteText(c: Column, i: Int): Column = {
    val nat = "abcdefghijklmnopqrstuvwxyz"
    val scr = "qwertyuiopasdfghjklzxcvbnm"
    val a = i % 26; val b = (i / 26) % 26
    if (a == 0 && b == 0) c
    else {
      val target = nat.map { x =>
        val sx = scr((scr.indexOf(x) + b) % 26) // σ^b
        nat((nat.indexOf(sx) + a) % 26)         // then ρ^a
      }.mkString
      translate(c, nat, target)
    }
  }

  /** Replica `i` of fixture `table` in the set `r`. */
  private def replicate(d: DataFrame, table: String, i: Int,
      r: Replica): DataFrame = {
    def offset(df: DataFrame, keys: String*) = keys.foldLeft(df) {
      (acc, k) => acc.withColumn(k, col(k) + lit(i * r.offset))
    }
    table match {
      case "customer" => offset(d, "c_custkey")
      case "supplier" => offset(d, "s_suppkey")
      case "part" => offset(d, "p_partkey")
      case "orders" => offset(d, "o_orderkey", "o_custkey")
      case "lineitem" => offset(d, "l_orderkey", "l_partkey", "l_suppkey")
      case "documents" =>
        offset(d, "doc_id").withColumn("text", r.text(col("text"), i))
      // circular component shift per replica: norm-preserving but
      // direction-decorrelating, so replicas spread across LSH/IVF
      // buckets like real 10x data instead of 10-way-duplicating every
      // bucket (the same naive-copy distortion the text rotation avoids)
      // label offset per replica: blocked vector ops (q69/q152) contract
      // on caller-BOUNDED blocks, so 10× data means 10× more blocks of
      // the same size — without the offset every label block grows 10×
      // and within-block pair counts grow 100× (the first q152 soak run
      // showed exactly that quadratic term; real blocking keys are sized,
      // not grown)
      case "embeddings" => offset(d, "vec_id")
        .withColumn("label", col("label") + lit(i * 1000))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${i + 1}, " +
            s"size(embedding) - $i), slice(embedding, 1, $i))"))
      case "events" => offset(d, "event_id", "user_id")
    }
  }

  /** Builds `r` unless its sentinel exists. The sentinel is written after
    * the LAST table: a crash mid-build must not leave a half-built set
    * that later runs silently accept. */
  private def ensureBuilt(spark: SparkSession, src: String,
      r: Replica): Unit = {
    val sentinel = Paths.get(s"${r.dir}/_BUILD_COMPLETE")
    if (!Files.exists(sentinel)) {
      println(s"building ${r.dir} (${r.replicas}x sf0.1)...")
      def raw(name: String) = spark.read.parquet(s"$src/$name.parquet")
      r.shared.foreach { t =>
        raw(t).write.mode("overwrite").parquet(s"${r.dir}/$t.parquet")
      }
      r.tables.foreach { t =>
        val base = raw(t)
        (0 until r.replicas).map(replicate(base, t, _, r))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"${r.dir}/$t.parquet")
      }
      Files.write(sentinel, Array.emptyByteArray)
    }
  }

  /** Soak-breadth list: every catalog query whose cost scales with data. */
  private val breadth = Seq(
    "tpch01", "tpch03", "tpch05", "tpch07", "tpch08", "tpch09", "tpch10",
    "tpch13", "tpch17", "tpch18", "tpch19", "tpch21",
    "q36_highcard_agg", "q48_cep", "q55_ann_lsh",
    "q66_lsh_near_dup", "q68_ngram_jaccard",
    // round 8: the streaming NFA rewrite (one shuffle + sorted scan, no
    // per-key buffering) and the end-to-end curation pipeline — the two
    // paths whose 10× behavior the round's changes most need to prove
    "q97_nfa_cep", "q74_curation_pipeline",
    // round 9: hashed repetition signals (must scale scan-linear) and
    // decontamination (broadcast gram set — ratio must track the TRAIN
    // side only)
    "q118_repetition", "q120_decontaminate",
    // round 9 curation tier: CC iteration (rounds grow with log of the
    // deepest dup chain, not data size — ratio must stay near-linear),
    // packing + train shuffle (one shard exchange each, linear), PII
    // scrub (pure projection, scan-linear)
    "q121_neardup_clusters", "q122_seq_packing", "q123_pii_scrub",
    "q124_train_shuffle",
    // governance tier: the per-source window and the totals-broadcast
    // mixing filter; q126 added round 10 (verdict item 4) — it re-runs
    // q121's CC iteration plus the split projection, so its ratio
    // tracks the loop's end-to-end 10× behavior
    "q125_domain_caps", "q126_leakage_safe_split", "q127_corpus_mixing",
    // round-9 corpus-stats tier: span dedup (replication multiplies
    // span df 10× but the frequent SET stays fixed-size — ratio must
    // stay near-linear), vocab/OOV (count agg + broadcast probe) and
    // the bigram LM (c2/c1 key space is fixed at 10×; only the scored
    // token stream grows)
    "q129_span_dedup", "q130_vocab_oov", "q131_bigram_lm",
    // round-9 perf rewrites: OrderStat's range-exchange selection
    // (counts + pick jobs must scale with the column, not the value
    // space) and the compiled text kernels (scan-linear by design)
    "q28_winsorize", "q53_exact_quantile", "q61_langid", "q65_minhash",
    "q67_simhash",
    // round-10 additions (verdict item 4): RAG chunking (zero-exchange
    // scan-linear) and exact-k eval sampling (stratum window). q114/q116
    // multimodal decode is NOT soakable — those fixtures key off the
    // nation dim (25 blobs at ANY sf); the round-10 image-phash pair
    // below covers the decode path at documents scale instead: q134 is
    // decode-linear, q135 adds the hamming band join (signature-sized
    // shuffles only — the 10× ratio proves the banding never goes
    // quadratic)
    // round-10 tie-proofing touched the as-of sort keys (payload
    // columns extend the window/merge orderings) — prove the 10×
    // behavior of the batch as-of and the backtest that builds on it
    "q41_asof_join", "q80_backtest",
    "q132_doc_chunking", "q133_eval_sample",
    "q134_image_phash", "q135_image_neardup",
    // the audio/video fingerprint tier — decode is scan-local (linear
    // in blob bytes); q138 is a second band-join datapoint on the
    // audio hash population
    "q136_audio_phash", "q137_video_phash", "q138_audio_neardup",
    // round-10 corpus-frequency tier: heavy hitters (sketch pass is
    // scan-linear with bounded state; candidate set is capacity-bounded
    // so the verify agg's key set is FIXED at 10×), sqrt-temperature
    // sampling (tiny totals + stratum window), sliding-window substring
    // dedup + contamination spans (window explode is token-linear, all
    // exchanges narrow triples; the flagged set must stay Zipf-small),
    // tf-idf keywords (two hash aggs + token join — key spaces fixed
    // at 10× under replication, only instance counts grow)
    "q140_heavy_hitters", "q141_sqrt_temp_sample", "q142_substring_dup",
    "q143_contamination_spans", "q144_tfidf_keywords",
    // incremental batch-vs-corpus near-dup tagging: both sides grow 10×
    // under replication but the consonant rotation keeps cross-replica
    // similarity low — the ratio proves the asymmetric band join stays
    // linear like q66's self-join form
    "q145_incremental_neardup",
    // single-pass profiler: the highest expected ratio in the tier
    // (~3) and explained — unlike the fixed-key-space queries, its
    // exact-distinct over doc_id (the PK, deliberately the audit's
    // worst case) shuffles a key set that genuinely grows 10×, times
    // the ×5 Expand of four distinct aggregates; the approx path
    // (`exact=false`, HLL) is the open-cardinality form at corpus
    // scale. z-order bucketing is projection + two aggs — scan-linear
    "q146_profile", "q147_zorder_layout",
    // histogram (two tiny aggs), embedding clusters (cosine pair graph
    // within fixed-size label blocks + id-pair CC — block count grows,
    // block size doesn't), quality percentile cut (per-stratum exact
    // percentile over a distinct-value map that grows with the corpus —
    // watch this one; OrderStat-per-stratum is the escape hatch)
    "q149_histogram", "q152_embedding_clusters", "q153_quality_cut",
    // cohort retention (distinct (user, week) keys grow 10× with the
    // offset users — the exchange must stay linear) and triangle
    // enumeration (edges ~10× under rotation; the ordered 3-way join
    // must not go superlinear on the sparse pair graph)
    "q154_cohort_retention", "q155_neardup_triangles",
    // quality-canonical keeper selection (q121's CC pipeline + one
    // map-combined arg-max + one keeper join — must track q121's
    // ratio), BM25 (scan-bounded: per-doc tf behind a checkpoint, one
    // single-row stats agg, TakeOrdered top-k), the hashed linear
    // classifier (pure projection — the scan-linear floor), and the
    // source-overlap matrix (q66's band join + two lookup joins; the
    // pair graph grows ~10× under rotation, the matrix is 6×6)
    "q156_cluster_canonical", "q157_bm25", "q158_quality_classifier",
    "q159_source_overlap",
    // bloom decontamination (sketch build + codegen probe + candidate-
    // sized confirm join — must track q120's exact-path ratio), NFC
    // normalization (pure projection: the scan-linear floor), funnel +
    // interval join (user-keyed; replicas add USERS, so per-user work
    // is constant and both must stay linear), source drift (map-
    // combined (source,token) counts; 10× instances, fixed key space),
    // quantized NN (probe-broadcast cross: data-linear), and BPE
    // training (12 argmax rounds over the word-type table — rotation
    // grows types ≤10×, rounds stay fixed)
    "q160_bloom_decontaminate", "q161_nfc_normalize", "q162_funnel",
    "q163_source_drift", "q164_interval_join", "q165_quantized_nn",
    "q166_bpe_train",
    // count-min (ONE map-combined agg, sketch state flat — the build
    // must be scan-linear), HLL (per-source sketch + exact distinct;
    // doc_id key set genuinely grows 10×), sessionize (user-keyed
    // window; replicas add users so per-window work is constant)
    "q167_count_min", "q168_hll_distinct", "q169_sessionize",
    // rate anomaly ((user,hr) then per-user moment aggs — replicas add
    // users, per-user hour count fixed), persistent-IVF gate (index
    // built once on the 10× corpus; probe cost is cell-sized), bucketed
    // join (bucket count fixed, bucket size grows linearly — the
    // exchange-free join must stay scan-linear)
    "q170_rate_anomaly", "q171_ivf_persistent", "q172_bucketed_join",
    // cell-pruned IVF probes + incremental append (index built once per
    // fixture dir; probe cost is cell-sized so the ratio tracks cell
    // growth, not corpus growth), rule validation (one Expand agg + the
    // FK key agg — both map-combined, scan-linear), and the PQ form of
    // the stored index (ADC probe moves one long per candidate vector —
    // the ratio proves the nprobe pruning holds at 10×)
    "q173_ivf_pruned", "q174_ivf_append", "q175_validate", "q176_ivf_pq",
    // round-11 tail. resample (per-key grid join — users grow 10×,
    // per-user grid fixed), entity resolution (measured 3.4 and
    // EXPLAINED — round-12 measurement CORRECTED the r11 story: the
    // 4-char-prefix block COUNT grows 59→590 while max block size stays
    // ~265 (the variant-generator fan-in saturates), so candidate pairs
    // grow exactly 10.0× (722,359→7,229,221) — LINEAR, not quadratic;
    // the 3.4 ratio is 10× marginal pair work (~1.4 µs/pair: join
    // materialization + banded levenshtein) amortizing ~2.8 s of fixed
    // CC-round/window overhead, i.e. sublinear in work), HTML strip (pure
    // projection — scan-linear floor), trailing distinct (measured 3.7
    // and EXPLAINED: per-target exact-distinct id sets genuinely grow
    // 10× over a FIXED bucket grid — the q168/q146 growing-exact-work
    // family), negative sampling (fixed anchor broadcast × pool scan:
    // cost ∝ pool), collocations (two map-combined aggs — token key
    // space ~fixed under rotation, instances ×10), AUC + confusion
    // (score-keyed map-combined agg; distinct-score space fixed by
    // construction)
    "q177_resample_locf", "q178_resample_interp", "q179_entity_resolution",
    "q180_html_to_text", "q181_trailing_distinct", "q182_negative_sampling",
    "q184_collocations", "q185_auc_exact", "q186_confusion",
    // persistent text index (built once per fixture; AND search reads
    // the probed buckets only — cost tracks posting-list growth, not
    // corpus bytes), append variant (batch-sized index delta), index
    // BM25 (bucket-pruned hits + one-row stats agg + TakeOrdered)
    "q187_text_index_search", "q188_text_index_append", "q189_index_bm25",
    // exact set-similarity join: THE one to watch — prefix-filter
    // candidates grow with rare-token posting lists; the ratio proves
    // the rare-first prefix keeps the candidate join subquadratic on a
    // 10× corpus (escape hatches: q66 LSH / q68 capped lists)
    "q190_setsim_join",
    // stream-stream interval join (user-keyed state, replicas add
    // users), URL normalize (pure projection), ROUGE pairs (per-pair
    // gram aggs — pairs ×10, pair size fixed), PPS sample (two
    // map-combined aggs + shard window — scan-linear; picks stay k),
    // top-k aggregator (bounded k-state per partial, flat at any skew)
    "q191_stream_stream_join", "q192_url_normalize", "q193_rouge_overlap",
    "q194_pps_sample", "q195_topk_aggregator",
    // equi-depth histogram (exact percentile over the n_chars
    // distinct-value map — fixed under replication — + one assignment
    // scan), schema evolution + snapshot stream + index compact (write-
    // path gates: cost is the fixture table write, scan-linear), outer
    // stream-stream join (streaming floor + user-keyed state), JL
    // projection + gopher rules (pure codegen projections — the
    // scan-linear floor)
    "q196_equidepth_histogram", "q197_schema_evolution",
    "q198_stream_stream_outer", "q199_jl_projection",
    "q200_text_index_compact", "q201_gopher_rules", "q202_snapshot_stream",
    // A/B readout (one distinct-user agg then a 2-row reduce — users
    // ×10, per-user work fixed) and the transition matrix (user-keyed
    // lead window + map-combined pair counts over a FIXED 3×3 type
    // space)
    "q203_ab_test", "q204_transition_matrix",
    // nearest as-of (one exchange, two windows — must track q41's
    // ratio), apportioned split + epoch upsample (hash projections +
    // one sharded window / posexplode — scan-linear), streaming MoR
    // upsert (write-path fixture + resolved read), weighted median
    // (distinct-(group, value) agg — l_quantity's value space is
    // FIXED, so the cum window is flat at 10×)
    "q205_asof_nearest", "q206_apportioned_split", "q207_epoch_upsample",
    "q208_stream_upsert", "q209_weighted_median",
    // scene cuts: nation-keyed fixture (25 blobs at ANY sf — like
    // q114/q116, the soak proves the fixed floor, not data scaling;
    // the decode walk is blob-linear by construction)
    "q210_scene_cuts",
    // round-12: k-fold + quantile transform (stratum-keyed windows —
    // strata counts grow, per-stratum work fixed) and hybrid RRF (the
    // q50 probe broadcast + q157 scan-bounded BM25 + a ≤(3·C + C)-row
    // fusion join — ratio must track the two retrieval legs)
    "q211_kfold_assign", "q212_quantile_transform", "q213_hybrid_rrf",
    // q181's HLL companion: the ratio must beat the exact form's 3.7 —
    // its exchange is grid-sized, so only the first-pass scan grows.
    // r13 (verdict item 4): the gate's exact verifier leg now runs at
    // stride 6, so this span times the sketch path + 1/6 of the exact
    // form instead of a full second exact run
    "q214_trailing_approx",
    // blocking-free exact ed-join: candidates from segment-key equality
    // — the ratio proves the probe fan-out (bounded per record) keeps
    // the candidate join corpus-linear where q179's within-block pair
    // work is block²-bounded
    "q215_edjoin",
    // containment: q190's exchanges with an unpruned (rank-annotated)
    // b-posting side — the ratio proves rare-first prefixes keep the
    // asymmetric candidate join subquadratic at 10×
    "q216_containment_join",
    // expire: write-path fixture (three commits + vacuum) — the soak
    // proves the fixed maintenance floor scales with the table write,
    // not the corpus
    "q217_snapshot_expire",
    // filtered ANN: q171's probe cost + one id-keyed semi-join — the
    // ratio must track q171's (the filter side is id-sized)
    "q218_ivf_filtered",
    // robust stats: two value-space window sorts — n_chars' distinct
    // value set is ~fixed under replication, so the ratio must be flat
    "q219_group_mad",
    // EWMA: one (user, bucket) agg + a horizon-bounded window — users
    // grow 10×, per-key state fixed, so the ratio must stay linear
    "q220_ewma",
    // retrieval eval: q50's probe cost + two id-sized joins — the
    // label-relevance set grows 10× (labels offset per replica keep
    // per-label populations fixed), ratio must track q50's
    "q221_retrieval_eval",
    // grouped t-digest: map-combined sketch partials — flat state per
    // group, the ratio must be scan-linear
    "q222_group_tdigest",
    // chi-square drift: two map-combined category counts — scan-linear
    "q223_chi2_drift",
    // r13. KS drift: two map-combined per-value counts + a distinct-
    // value-sized cumulative pass — value space grows with data here
    // (raw event values), so the ratio tracks distinct-value growth;
    // the operator contract says quantize at open cardinality
    "q224_ks_drift",
    // chunk dedup: md5-keyed min-struct agg + two text exchanges (the
    // output IS text) — must stay scan-linear like q64/q129
    "q225_chunk_dedup",
    // winnowing: pure codegen projection + explode — the scan-linear
    // floor; fingerprint volume is grams/w per doc
    "q226_winnow_fingerprints",
    // calibration/Brier: one map-combined agg each over a fixed key
    // space — flat-exchange scan floors
    "q227_calibration_bins", "q228_brier",
    // winnow candidates: fp posting lists grow with the corpus but the
    // hot-list cap bounds every bucket — ratio must stay near-linear
    // like q66's band join
    "q229_winnow_candidates",
    // cluster pair eval: three map-combined aggs — scan-linear floor
    "q230_cluster_pair_eval",
    // LSH self-eval: q66's candidate CTE + q190's exact truth + a
    // pair-keyed join — the ratio tracks the two generators it grades
    "q231_lsh_eval",
    // per-group KS: groups × distinct-values grid, group-partitioned
    // windows — ratio tracks distinct-value growth × fixed group count
    "q232_ks_by_group",
    // per-group χ²: directory-grid aggregates, no windows — scan-linear
    "q233_chi2_by_group",
    // minhash fidelity: q66's banded join + confirm joins — must track
    // q66's candidate-sized ratio
    "q234_minhash_fidelity",
    // r14. quantized KS: the guard+quantizer path — value cardinality
    // is CAPPED at 1000 buckets by construction, so unlike q224 the
    // cumulative pass is flat at any scale; ratio must track the scan
    "q235_quantized_ks",
    // per-group calibration/Brier: one map-combined (group, bin) or
    // per-group agg over fixed key spaces — scan-linear floors
    "q236_calibration_by_group", "q237_brier_by_group",
    // winnowing end-to-end: q229's capped candidate join + the
    // id-keyed confirm joins + CC rounds — must track q229's ratio
    // plus q121's CC behavior; q239 re-runs the exact PPJoin sibling
    // BY DESIGN (slice-sized self-eval, not a production path)
    "q238_winnow_dedup", "q239_winnow_eval",
    // per-group AUC: (group, score)-keyed agg + group-partitioned
    // windows — groups × fixed score space, must track q185's ratio
    "q240_auc_by_group",
    // embedding centroid drift: posexplode into ONE map-combined
    // (group, dim) agg — exchange is groups × dims partials, so the
    // ratio must be the scan-linear floor
    "q241_embedding_drift",
    // rank-quantized KS: OrderStat's two selection jobs (range
    // exchange crossed once) + the 16-bucket KS — ratio tracks the
    // selection, which is scan-linear by construction
    "q242_rank_quantized_ks",
    // streaming drift: the q100-shaped watermarked windowed agg (state
    // = days × types, flat) + day-grid math on drained counts — ratio
    // must track the streaming replay floor
    "q243_streaming_drift",
    // r15: the composed curation pipeline (checkpointed kept/keeper
    // projections — ratio tracks the LSH+CC core plus the packer) and
    // the wide-quantile mapPartitions path (scan-linear t-digest
    // arrays; constant task memory is the property under test)
    "q244_curation_pipeline", "q245_wide_quantiles",
    // graded nDCG: bounded probe batch × corpus scan — scan-linear
    "q246_ndcg",
    // r16 gates (r17, verdict item 3): the winsorize composition —
    // wide-quantile pass chained into clip + covariance, where a
    // re-planned bounds broadcast would show superlinearly — the
    // multimodal composition (decode→pHash→band-join→CC→keeper), and
    // MAP (bounded probes × corpus scan)
    "q247_winsorize_cov", "q248_multimodal_pipeline", "q249_map_eval",
    // the array-layout wide-quantile gate (r17 — the winsorize
    // baseline's storage layout, exercised end-to-end) and its clip
    // composition twin
    "q250_wide_quantiles_array", "q251_winsorize_array",
    // ---- r13 soak-breadth batch (verdict item 7): every remaining
    // catalog query whose cost scales with data, so no regression can
    // hide in the unsoaked half. EXEMPT as fixed-floor by construction
    // (documented here so the exemption is auditable):
    //   q70/q71/q82/q110/q112/q113/q114/q116/q117/q139 — nation-keyed
    //     multimodal fixtures (25 blobs at ANY sf; the documents-scale
    //     decode path is soaked via q134-q138);
    //   q89/q183 — injectable REST fixtures (fixed page set, no data);
    //   q90_fromseq — literal in-memory rows; q107_explain_dot — plan
    //     string only.
    // Relational/TPC-H floor + the remaining app-parity queries:
    "q100_streaming_tumbling", "q101_streaming_session", "q102_transform",
    "q103_transform_sql", "q104_streaming_asof", "q105_streaming_asof_fwd",
    "q106_bpe_exact", "q108_streaming_hopping", "q109_streaming_distinct",
    "q10_topk", "q111_cep_nfa_route", "q115_snapshot_timetravel",
    "q119_stratified_sample", "q11_union", "q128_streaming_cep",
    "q12_case_agg", "q13_clip", "q148_streaming_dedup",
    "q14_rename_drop", "q150_merge_on_read", "q151_snapshot_diff",
    "q15_with_columns", "q16_cube", "q17_rollup",
    "q18_window_rank", "q19_intersect",
    "q1_agg", "q20_except", "q21_global_agg",
    "q22_sort", "q23_corr_subquery", "q24_outer_count_dist",
    "q25_having_topk", "q26_scalar_max", "q27_not_exists_avg",
    "q29_multi_winsorize", "q2_filter_project", "q2b_corr_min_join",
    "q2c_grouping_sets", "q30_string_funcs", "q31_like_regex",
    "q32_datetime_funcs", "q33_date_offset", "q34_json_extract",
    "q35_arithmetic", "q37_group_stats", "q38_top2_per_group",
    "q39_ohlcv", "q3_join_inner", "q40_shift",
    "q42_asof_tolerance", "q43_tumbling", "q44_hopping",
    "q45_sliding", "q46_session", "q47_tumbling_event",
    "q49_asof_physical", "q4_join_semi", "q50_vector_nn",
    "q51_gramian", "q52_covariance", "q54_approx_quantile",
    "q5_join_anti", "q60_token_counts", "q62_quality",
    "q63_fingerprint", "q64_exact_dedup", "q69_embedding_neardup",
    "q6_join_left", "q72_wordcount", "q73_normalized_dedup",
    "q75_fulltext", "q76_sql_api", "q77_pagerank",
    "q78_kmeans", "q79_matmul", "q7_multijoin",
    "q81_pivot", "q83_sink_roundtrip", "q84_stateful_totals",
    "q85_cogroup_stats", "q86_csv_roundtrip", "q87_json_roundtrip",
    "q88_binary_files", "q8_distinct", "q91_compute_reuse",
    "q92_orc_roundtrip", "q93_salted_join", "q94_salted_agg",
    "q95_welford_udaf", "q96_tdigest", "q98_sorted_csv",
    "q99_mingle", "q9_count_distinct", "tpch02",
    "tpch04", "tpch06", "tpch11",
    "tpch12", "tpch14", "tpch15",
    "tpch16", "tpch20", "tpch22")

  /** The five flagships named by the r13 verdict — LSH dedup, exact
    * PPJoin, blocked entity resolution, near-dup CC clusters, HLL
    * trailing distinct — plus the r14 winnowing tier end-to-end, plus
    * (r14 verdict item 2) the streaming STATE tier: session window,
    * hopping window, streaming dedup, streaming near-dup tagging and
    * drift-on-arrival. The replicas offset user_id/event_id/doc_id, so
    * the streaming legs measure state ROWS × commit cost at 100× keys —
    * the honest failure mode of watermarked state at corpus scale.
    * Each flagship names the fixture table(s) it reads, the denominator
    * of its `rows_in`. */
  private val flagships = Seq(
    "q66_lsh_near_dup" -> Seq("documents"),
    "q190_setsim_join" -> Seq("documents"),
    "q179_entity_resolution" -> Seq("documents"),
    "q121_neardup_clusters" -> Seq("documents"),
    "q214_trailing_approx" -> Seq("events"),
    "q238_winnow_dedup" -> Seq("documents"),
    "q101_streaming_session" -> Seq("events"),
    "q108_streaming_hopping" -> Seq("events"),
    "q109_streaming_distinct" -> Seq("events"),
    "q148_streaming_dedup" -> Seq("events"),
    "q243_streaming_drift" -> Seq("events"),
    // r16 (verdict item 5): the two end-to-end COMPOSITION gates — a
    // lost checkpoint or re-analysis barrier in a composition shows up
    // superlinearly here where the per-stage gates stay linear, and
    // compositions are what a 100 TB curation run actually executes
    "q244_curation_pipeline" -> Seq("documents"),
    "q248_multimodal_pipeline" -> Seq("documents"))

  private val sf1 = Replica("target/sf1", replicas = 10,
    offset = 10000000L, // > every sf0.1 key maximum
    rotateText, tables = Seq("customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events"),
    shared = Seq("region", "nation"))
  // the 10⁹ offset also clears q179's +5·10⁸ variant-id arithmetic: with
  // the 10⁷ offset, replica i's variant ids collided exactly with replica
  // (i+50)'s base ids, handing entity resolution duplicate record ids
  private val sf10 = Replica("target/sf10", replicas = 100,
    offset = 1000000000L, permuteText, tables = Seq("documents", "events"))

  /** The per-factor table: the only place the two soaks differ. */
  private[graft] val factors: Map[Int, Factor] = Map(
    10 -> Factor(Seq(sf1), breadth, Map.empty, "BENCH_sf1.json",
      Seq("sf01_sec", "sf1_sec"), Seq(("ratio", 1, 0))),
    100 -> Factor(Seq(sf1, sf10), flagships.map(_._1), flagships.toMap,
      "BENCH_100x.json",
      Seq("sf01_sec", "sf1_sec", "sf10_sec"),
      Seq(("ratio_10x", 1, 0), ("ratio_100x_over_10x", 2, 1),
        ("ratio_100x", 2, 0))))

  /** Ledger numbers: 3 decimals, rounded half-up like `%.3f`. */
  private def dec(d: Double): BigDecimal =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  /** The `queries` entries of a soak ledger, in file order, with numbers
    * kept exactly as written. Raises on a ledger that does not parse or
    * whose `queries` is not an object of objects: rewriting it from one
    * batch would silently drop every recorded entry (r15: a parse
    * failure once dropped six rows) — fix or remove the file
    * deliberately instead. */
  private[graft] def parseLedger(json: String): Seq[(String, JObject)] =
    parse(json, useBigDecimalForDouble = true) \ "queries" match {
      case JObject(fields) => fields.map {
        case (q, e: JObject) => q -> e
        case (q, _) => throw new IllegalStateException(
          s"soak ledger entry '$q' is not an object — fix or remove the file")
      }
      case _ => throw new IllegalStateException(
        "soak ledger has no 'queries' object — fix or remove the file")
    }

  private def readLedger(path: Path): Seq[(String, JObject)] =
    if (!Files.exists(path)) Nil
    else parseLedger(new String(Files.readAllBytes(path), "UTF-8"))

  /** Every prior entry is carried forward as written (its `solo` flag
    * included); this batch's entries win on collision. */
  private[graft] def mergeLedger(prior: Seq[(String, JObject)],
      fresh: Seq[(String, JObject)]): Seq[(String, JObject)] = {
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, JObject]
    (prior ++ fresh).foreach { case (q, e) => merged(q) = e }
    merged.toSeq
  }

  /** Merges `fresh` into the ledger at `path` and rewrites it with this
    * batch's top-level `header` fields; returns the entry count. An
    * unreadable prior ledger raises before anything is written. */
  private[graft] def writeLedger(path: Path, header: List[JField],
      fresh: Seq[(String, JObject)]): Int = {
    val merged = mergeLedger(readLedger(path), fresh)
    val json = JObject(header :+ ("queries" -> JObject(merged.toList)))
    Files.write(path, compact(json).getBytes("UTF-8"))
    merged.size
  }

  /** One ledger entry: per-scale times, ratios, row counts when the
    * query has input tables, and the `solo` provenance flag — whether
    * the batch re-measured it alone at the end. */
  private[graft] def entry(f: Factor, times: Seq[Double],
      rows: Option[(Seq[Long], Seq[Long])], solo: Boolean): JObject = {
    def arr(v: Seq[Long]) = JArray(v.map(n => JInt(n)).toList)
    JObject(
      f.timeFields.zip(times).map { case (k, t) => k -> JDecimal(dec(t)) } ++
      f.ratioFields.map { case (k, n, d) =>
        k -> JDecimal(dec(times(n) / math.max(times(d), 1e-9)))
      } ++
      rows.toList.flatMap { case (in, out) =>
        List("rows_in" -> arr(in), "rows_out" -> arr(out))
      } :+ ("solo" -> JBool(solo)): _*)
  }

  def main(args: Array[String]): Unit = {
    val f = args.headOption.flatMap(_.toIntOption).flatMap(factors.get)
      .getOrElse(throw new IllegalArgumentException(
        s"usage: Soak ${factors.keys.toSeq.sorted.mkString("|")} [query…]"))
    val ledger = Paths.get(f.ledger)
    // read first: an unreadable prior ledger fails before any work
    val prior = readLedger(ledger)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // before the replica build touches the session state
    graft.functions.GraftFunctions.register(spark)
    val src = "/root/testdata/sf0.1"
    f.replicas.foreach(ensureBuilt(spark, src, _))
    val dirs = src +: f.replicas.map(_.dir)
    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // Bench.force (noop write), not count(): Catalyst prunes windows
      // and unique-key left joins under a bare count, so a count-timed
      // ratio would compare fragments of the as-of/backtest pipelines
      graft.Bench.force(fn(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    val torun = if (args.length == 1) f.queries
      else f.queries.filter(args.tail.toSet)
    // warm every scale once (page cache + codegen), then min-of-2 with
    // the scales INTERLEAVED per query (sf0.1, sf1, …, sf0.1, sf1, …):
    // a ratio is a quotient of measurements taken seconds — not minutes
    // — apart, so machine-wide contention drift hits both sides of the
    // division instead of landing entirely in one sweep (round 9: a
    // contended sf1 sweep made untouched queries read as 3× scale
    // regressions).
    torun.foreach(q => dirs.foreach(time(q, _)))
    def measure(q: String): Vector[Double] = {
      val a = dirs.map(time(q, _)); val b = dirs.map(time(q, _))
      a.zip(b).map { case (x, y) => math.min(x, y) }.toVector
    }
    def show(ts: Seq[Double]) = f.timeFields.zip(ts)
      .map { case (k, t) => s"$k=${dec(t)}" }.mkString(" ")
    val canary = graft.Canary.nation(spark, src)
    val measured = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    torun.foreach { q =>
      measured(q) = measure(q)
      canary.sample(q)
      println(s"[soak] $q ${show(measured(q))}")
    }
    val heals = canary.heal(q => Some(measure(q))).map { h =>
      val orig = measured(h.span)
      h.retry.foreach(measured(h.span) = _)
      (h, orig)
    }
    // MECHANIZED solo re-run (r17 verdict item 6): twice in r17 a batch
    // measurement recorded a ~2× artifact (JVM interference from the
    // surrounding batch) that only a solo re-run exposed. Any entry
    // whose largest-scale time moved >25% vs its prior recording is
    // re-measured at the END of the batch — no other soak query in
    // flight, the closest one JVM gets to a solo run — and every written
    // entry carries the `solo` provenance flag.
    val priorTime = prior.flatMap { case (q, e) =>
      e \ f.timeFields.last match {
        case JDecimal(x) => Some(q -> x.toDouble)
        case JInt(x) => Some(q -> x.toDouble)
        case _ => None
      }
    }.toMap
    val solo = torun.filter { q =>
      priorTime.get(q).exists(p =>
        math.abs(measured(q).last - p) / math.max(p, 1e-9) > 0.25)
    }.toSet
    torun.filter(solo).foreach { q =>
      measured(q) = measure(q)
      println(s"[soak] $q SOLO re-measure (moved >25% vs prior " +
        s"${priorTime(q)}s): ${show(measured(q))}")
    }
    // r17 row-count evidence (verdict item 4): a flat ratio could also
    // come from a fixture-pruning bug that silently reads a tenth of the
    // corpus, so entries of queries with input tables record the INPUT
    // rows present at each scale (metadata-only parquet counts, memoized
    // per table) and the query's own output rows (an untimed count —
    // count() prunes compute, so it is never the timed body)
    val tableRows = scala.collection.mutable.Map.empty[(String, String), Long]
    def rowsIn(q: String, dir: String): Long =
      f.inputTables(q).map(t => tableRows.getOrElseUpdate((t, dir),
        spark.read.parquet(s"$dir/$t.parquet").count())).sum
    val rows = torun.filter(f.inputTables.contains).map { q =>
      q -> ((dirs.map(rowsIn(q, _)),
        dirs.map(graft.SparkEntry.queries(q)(spark, _).count())))
    }.toMap
    def decs(v: Seq[Double]) = JArray(v.map(t => JDecimal(dec(t))).toList)
    // contamination and heals describe THIS batch; batch_queries says
    // which entries they cover (the rest are carried from prior runs)
    val spans = canary.flagged
    val header = List(
      "replicas" -> JInt(f.replicas.last.replicas),
      "cpus" -> JInt(graft.Bench.parseCpus(cpus)),
      "contaminated" -> JBool(spans.nonEmpty),
      "contaminated_spans" -> JArray(spans.map(JString(_)).toList),
      "heals" -> JArray(heals.map { case (h, orig) => JObject(
        "span" -> JString(h.span), "orig" -> decs(orig),
        "retry" -> decs(h.retry.getOrElse(Vector.empty)),
        "orig_canary" -> decs(h.perturbed),
        "retry_canary" -> decs(h.fresh))
      }.toList),
      "batch_queries" -> JArray(torun.map(JString(_)).toList))
    val n = writeLedger(ledger, header, torun.map { q =>
      q -> entry(f, measured(q), rows.get(q), solo(q))
    })
    println(s"wrote ${f.ledger} ($n queries)")
    spark.stop()
  }
}
