package graft

import org.scalatest.funsuite.AnyFunSuite

/** Results must be independent of input split boundaries: the driver
  * (or a production deployment) is free to change
  * `spark.sql.files.maxPartitionBytes`, executor counts, or file
  * layout, and a 100 TB job will see radically different partitionings
  * run to run. A second session forces pathologically small splits
  * (64 KB) and the exact-arithmetic flagship operators must return
  * byte-identical rows. Only exact-integer / order-free queries are
  * pinned — double SUM outputs legitimately vary in the last ulp with
  * summation order, which is why the catalog rounds aggregate doubles
  * (the oracle conventions), not why results may differ.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  import SparkTestSession._

  private val pinned = Seq(
    "q60_dedup_exact",     // sha256 keep-first
    "q61_dedup_minhash",   // min-of-md5 signature rows (commutative),
                           // band-key joins + native sorted-intersect
                           // verify: all exact
    "q62_dedup_ngram",     // blocked exact-Jaccard integer percents
    "q63_dedup_simhash",   // md5-derived fingerprint bits + Hamming gate
    "q102_decontaminate",  // exact shingle-overlap counts, broadcast eval
    "q67_fingerprint",     // rolling-hash document fingerprints
    "q100_hash_split",     // affine-hash train/valid/test split
    "q101_seq_pack",       // three-level distributed prefix sum
    "q109_repetition",     // exact gram counts + struct-max argmax
    "q110_tfidf_topk",     // exact tf/df; score = int · snapped idf
    "q111_dup_substrings", // window-fingerprint group counts
    "q112_quantize_int8",  // per-vector quantization (max is order-free)
    "q113_ann_int8",       // integer dots; rank ties broken on vec_id
    "q39_approx_sketch",   // bitmap OR + HLL register-max are commutative;
                           // the 5%-tolerance booleans absorb the one
                           // merge-order-sensitive piece (percentile_approx)
    "q71_ann_lsh",         // per-row literal-plane dots (no cross-partition
                           // float summation); candidate set is join
                           // semantics; ranks tie-break on vec_id
    "q131_table_diff",     // md5 row digests; class counts + min/max keys
    "q133_vocab_encode",   // count-desc/term-asc vocab cut is a total
                           // order; encode is per-row against the map
    "q137_group_sample",   // md5-ordered row_number with unique tie-break
    "q138_table_checksum", // XOR fold is commutative/associative —
                           // invariance IS the operator's contract
    "q142_shard_manifest", // md5 routing + XOR manifest, disk round-trip
    "q149_skyline",        // integer exclusive running max over a total
                           // order (r14 DistributedRank.withExclMax —
                           // bucket boundaries must not show)
    "q156_pareto",         // exact DECIMAL prefix sums over a total
                           // order (r14 withRank; lag recovered as
                           // run − rev in exact decimal)
    "q158_ppjoin",         // prefix pigeonhole candidates are join
                           // semantics; verify is exact integer Jaccard
    "q169_ndcg",           // 1e-9-unit LONG DCG folds are order-free
    "q179_gini",           // exact-cents ranks via r14 DistributedRank;
                           // closed form divides exact longs once
    "q172_negative_pairs", // affine-hash partner draw — reproducibility
                           // across partitionings IS the contract
    // The TPC-H completion tier (q182-q196) is exact by construction:
    // money sums accumulate in DECIMAL, quantities are integral
    // doubles (exact sums in any order), thresholds compare exact
    // values, ratios divide two exact operands once. q194 is excluded
    // only because its ASIA-supplier slice is empty at sf0.001 (the
    // nonEmpty assertion), not for arithmetic reasons.
    "q182_min_cost_supplier", "q183_order_priority",
    "q184_forecast_revenue", "q185_market_share", "q186_product_profit",
    "q187_important_parts", "q188_late_by_flag",
    "q189_order_distribution", "q190_top_supplier",
    "q191_supplier_counts", "q192_small_qty_revenue", "q193_big_orders",
    "q195_waiting_suppliers", "q196_sales_opportunity",
    "q197_lm_perplexity",  // snapped per-term costs are exact 1e-6-unit
                           // LONGs; per-doc sums order-free
    "q198_weighted_sample", // md5-derived A-ES keys — reproducibility
                           // across partitionings IS the contract
    "q199_source_keep_best", // struct-max argmax is order-free
    "q200_chunking",       // per-row integer chunk arithmetic
    "q201_pct_of_parent",  // exact decimal sums; one IEEE division
    "q202_benford_audit",  // integer-string leading digit; exact counts
    "q203_skew_report",    // exact key counts; cross-mult ratio
    "q204_lagged_xcorr",   // DECIMAL(38,0) component sums; sqrt/÷ once
    "q205_dup_payments",   // equi-join + exact band filters
    "q206_favorite_brand", // two-level struct-max argmax, exact counts
    "q207_wilson_returns", // IEEE chain on exact-fraction inputs
    "q208_fulfillment_sla", // exact date arithmetic; q39b percentile
    "q209_freshness_audit", // max is order-free; integer µs lag
    "q210_purge_audit",    // semi-join counts, exact divisions
    "q211_seasonality_index", // exact decimal revenue; ÷ once
    "q212_discount_response", // integral qty sums, exact decimal
    "q213_supplier_hhi",   // exact integer cents², snapped ratio
    "q214_dup_profile",    // hash-group → size-group; exact longs
    "q216_containment",    // prefix-filter candidates, exact verify
    "q217_ngram_novelty",  // min-doc attribution is order-free
    "q218_source_leakage", // distinct shingle×source, exact counts
    "q219_tokenizer_fertility", // exact sums; snapped percentiles
    "q220_curation_funnel", // per-row flags + hash window, exact longs
    "q221_effective_tokens", // keep-first window, exact long sums
    "q222_label_balance",  // exact counts; snapped ln terms + sum
    "q223_norm_audit",     // per-vector folds; min/max order-free
    "q224_ks_drift",       // cum-long CDFs; max |Δ| order-free
    "q225_psi_drift",      // exact bucket counts; snapped ln + sum
    "q226_kanon_audit",    // exact class counts; cum window on k-frame
    "q227_jaro_linkage",   // per-pair snapped native kernel score
    "q228_leak_spans",     // islands-and-gaps on exact positions
    "q229_mix_plan",       // keep-first hash window; exact long DIV
    "q231_mannwhitney",    // doubled ranks exact; DECIMAL(38,0) sums
    "q232_kaplan_meier",   // exact risk sets; fixed-order snapped lnΣ
    "q233_temperature_mix", // exact token longs; snapped √ + snapped sum
    "q234_bpe_pairs",      // exact weighted pair counts; total tie-break
    "q235_dsir_weights",   // micro-nat longs — per-doc sums exact
    "q236_spearman",       // decimal spend; exact rank deviations
    "q237_cusum",          // scaled-integer CUSUM; integer argmax
    "q238_cohens_kappa",   // exact confusion counts; decimal cross-mult
    "q239_logrank",        // exact risk sets; snapped terms + sums
    "q240_theilsen",       // exact pair slopes; integer middle-rank pick
    "q241_calibration",    // micro-unit longs; exact bin sums
    "q243_silhouette",     // snapped centroids; micro-unit point scores
    "q244_fano",           // exact decimal cross-mult through day count
    "q245_zipf_slope",     // micro-nat longs; decimal OLS moments
    "q246_event_dedup",    // exact µs gaps; event_id tie-break
    "q247_cms_heavy_hitters", // exact long counters, shared-md5 buckets
    "q248_ldiversity",     // exact class counts; bounded re-group
    "q249_segment_dedup",  // row_number (doc_id,pos) total order;
                           // struct-sorted reassembly; exact longs
    "q250_quality_classifier", // per-row exact-long HOF fold
    "q251_word_entropy",   // per-row snapped terms + snapped sums
    "q252_bootstrap_ci",   // md5 Poisson weights, exact cents sums;
                           // order-stat ties broken on replica id
    "q253_cdc_chunks",     // md5 boundaries; pos-ordered reassembly
    "q254_dp_release",     // pure integer noise from the cell key
    "q255_kn_bigram",      // snapped micro-long costs; exact sums
    "q256_acf",            // DECIMAL moments; one double division
    "q257_kfold_audit",    // md5 folds; exact counts, single divisions
    "q258_minhash_overlap", // min is commutative — invariance IS the
                           // sketch's mergeability contract
    "q259_image_patches",  // per-row integer patch gathers
    "q260_shingle_gen",    // native generator rows; exact counts
    "q261_rouge_pairs",    // exact set intersections; lead() over a
                           // total (doc_id) order per group
    "q262_mutual_info",    // snapped micro-nat longs, DECIMAL sums
    "q263_simhash_eval",   // exact confusion counts over a distinct
                           // candidate set
    "q264_pq_codes",       // snapped centroids; micro-long distances,
                           // struct-min argmin with label tie-break
    "q265_collocations",   // exact DECIMAL G² terms; count tie-breaks
    "q266_rbo_rankings",   // hard-coded weight literals; exact longs,
                           // fixed-order fold, one division
    "q267_rouge_l",        // integer DP over per-row sequences
    "q268_hll_registers",  // max is commutative; exact binary-fraction
                           // register sum (order-free by analysis)
    "q269_stem_audit",     // exact vocab counts, single division
    "q270_oov_coverage",   // affine split hash; exact counts
    "q271_lsh_tuning",     // min-of-md5 signatures (commutative);
                           // exact confusion counts
    "q272_char_bigrams",   // snapped micro-nat DECIMAL sums;
                           // struct-max argmax
    "q273_dedup_impact",   // exact sums; keep rule is a total order
    "q274_filter_yield",   // exact integer predicates and sums
    "q275_ann_recall",     // bit-exact doubles, total tie-breaks
    "q276_transitivity",   // exact counts over a distinct pair graph
    "q277_split_drift",    // snapped per-(label,half) centroids
    "q278_simhash_bits",   // exact bit tallies; kernel is per-row
    "q279_bloom_fpr",      // distinct bit sets; exact probe counts
    "q280_markov_stationary", // exact micro-long power iteration
    "q281_minhash_k_curve", // min is commutative; exact counts
    "q282_dp_epsilon_curve", // pure integer noise from cell keys
    "q283_length_ttr_corr", // integer midpoint ranks, DECIMAL moments
    "q284_heaps_law",      // exact first-occurrence counts, snapped OLS
    "q285_funnel",         // exact-µs mins, DECIMAL latency sums
    "q286_cohort_retention", // date mins, exact distinct counts
    "q287_heavy_hitters",  // k=64 ≥ vocab: MG summary is exact, so
                           // merge order cannot show (NativeTopFreqSpec
                           // pins the sketch regime separately)
    "q289_order_concurrency", // exact dates, longs, window sums
    "q290_kruskal_wallis", // exact-long ranks, DECIMAL rank/tie sums;
                           // the only float fold is the |types|-term
                           // H sum, bounded-error under the 6-snap
                           // (q288 stays out: its daily 4-rounded
                           // double sums are the q162 fold class)
    "q291_jsd_sources",    // exact counts, micro-nat snapped logs,
                           // DECIMAL accumulations
    "q292_cramers_v",      // exact cell counts; bounded ≤35-term
                           // χ² double fold under the 6-snap
    "q293_event_trigrams", // exact longs over a total event order
    "q294_isotonic_response", // exact-long cumsums; interval means
                           // are identical doubles of exact ints
    "q295_changepoint",    // exact-long gain numerators; argmax on
                           // identical doubles, day tie-break
    "q297_jl_distortion",  // fixed-order per-row chains; micro-long
                           // ratios before the only unordered fold
                           // (q296 stays out: corpus-sized 2-rounded
                           // acctbal fold, the q162 class)
    "q298_degree_assortativity", // exact-long degrees, DECIMAL moments
    "q299_haar_anomaly",   // exact signed integer sums, total-order
                           // argmax per (type, scale)
    "q300_greedy_coverage", // exact counts, total-order argmax per
                           // greedy round
    "q301_mantel_haenszel", // exact 2×2 cells; bounded ≤|brands|
                           // pooled fold under the 6-snap
    "q302_capture_recapture", // exact membership flags and counts
    "q303_neyman_allocation", // DECIMAL moments; bounded source fold
    "q304_entropy_rate",   // micro-nat DECIMAL sums, exact counts
    "q305_theil_decomposition", // exact cents, micro-nat DECIMAL
                           // sums — no float fold anywhere
    "q306_hurst_rs",       // exact-long z deviations, micro-long
                           // block ratios, integer OLS sums
    "q307_price_index",    // exact cents/quantities; bounded
                           // ≤|brands| basket folds per month
    "q308_basket_rules",   // exact supports; lift ranks identical
                           // doubles of identical integers
    "q309_sprt_monitor",   // DECIMAL cumsum of count×constant;
                           // exact boundary comparisons
    // ——— round 12: the catalog's exactness discipline is uniform —
    // integer/DECIMAL cross-products, micro-unit freezes before any
    // fold, order statistics by rank selection, driver-side bounded
    // iteration — so the whole round pins.
    "q312_page_hinkley", "q313_nelson_aalen", "q314_renyi_spectrum",
    "q315_good_turing", "q316_winnowing", "q317_trend_test",
    "q318_l_moments", "q319_gumbel_topk", "q320_burrows_delta",
    "q321_hash_uniformity", "q322_runs_test", "q323_chao_richness",
    "q324_icc_users", "q325_word_burstiness", "q326_kendall_w",
    "q327_brown_forsythe", "q328_poisson_dispersion",
    "q329_keyness_fdr",    // count×µnat G²; BH rank has total tie-break
    "q330_ewma_chart",     // dyadic cumulative longs; integer flag
    "q331_cliffs_delta", "q332_eb_shrinkage", "q333_cronbach_alpha",
    "q334_durbin_watson",  // exact scaled residuals; scale cancels
    "q335_t_closeness",    // ntile over unique total order
    "q336_mase_backtest", "q337_info_gain",
    "q338_sax_motifs",     // integer discretization; (cnt,word) argmax
    "q339_cochrans_q", "q340_mcnemar",
    "q341_jonckheere",     // dense-grid prefix sums; tie-corrected moments
    "q342_rich_club", "q343_weighted_sample", "q344_quantile_norm",
    "q345_cuped", "q346_periodogram",
    "q347_silhouette",     // µ-int centroids; µ-long frozen scores
    "q348_brier_decomposition", "q349_cumulative_gains",
    "q350_modularity", "q351_hill_tail", "q352_topk_churn",
    "q353_kde",            // nano-frozen kernels; one-literal divisor
    "q354_anisotropy", "q355_abc_analysis", "q356_ar1_backtest",
    "q357_mahalanobis", "q358_simpsons_check", "q359_partial_corr",
    "q360_price_dispersion", "q361_growth_accounting", "q362_dau_wau",
    "q363_novelty_curve", "q364_pareto_knee", "q365_label_mrr",
    "q366_knn_accuracy", "q367_vocab_overlap", "q368_langid_confusion",
    "q369_max_drawdown", "q370_var_cvar", "q371_weak_ties",
    "q372_harmonic_centrality", // driver-side BFS on collected graph
    "q373_kcore", "q374_tail_dependence",
    "q375_hits", "q376_weibull_fit", "q377_chain_ladder",
    "q378_decision_stump", "q379_record_days", "q380_lorenz_curve",
    "q381_rmst", "q382_process_capability",
    "q310_wasserstein",    // exact CDF cross-products; micro-long
                           // interval terms before the pair sum
    "q311_seasonal_decompose") // exact 7y−S₇ numerators, DECIMAL
                           // dow sums, single divisions

  test("exact operators are invariant to input split boundaries") {
    val splitty = spark.newSession()
    splitty.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    splitty.conf.set("spark.sql.files.openCostInBytes", "0")
    for (q <- pinned) {
      val base = SparkEntry.queries(q)(spark, sf).collect().toSeq
      val split = SparkEntry.queries(q)(splitty, sf).collect().toSeq
      assert(split === base, s"$q result depends on input partitioning")
      assert(base.nonEmpty, s"$q returned no rows at $sf")
    }
  }
}
