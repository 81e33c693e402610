package graft

/** Dev tool: audits the physical plan of every query against the scale
  * invariants in SURVEY.md §5 and prints one line per query.
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001"          # derived plans
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 scale"    # broadcasts off
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 stores"   # store-backed plans
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 bucketed" # co-bucket join proof
  *
  * Checks (heuristic, WARN not FAIL — some shapes are legitimately
  * different): exchange (shuffle) count, broadcast joins present where
  * declared, pushed filters on scans, no cartesian product except the
  * intentionally-crossing similarity baselines. `stores` mode
  * provisions the full artifact set and audits the 16 store consumers
  * in TWO passes: uncached store-backed plans (store read present,
  * per-consumer shuffle budgets, q113/q122/q159 corpus-scan-free), then the
  * bench session's actual cached-view plans (graft.lsh.cache on, views
  * primed — structural checks only, since the cached views print their
  * never-re-run build lineage inside InMemoryRelation).
  */
object PlanAudit {
  private val expectBroadcast = Set(
    "q03_top_revenue", "q05_region_revenue", "q15_above_avg_groups", "q16_rollup_sales",
    "q27_catalog_tree", "q40_cosine_topk", "q41_embedding_neardup", "q43_ivf_search",
    "q90_tfidf", "q92_source_overlap",
    // r15 second wave: q161's top-200 vocab hint, q162/q164's single-row
    // totals hints — each an explicit broadcast() the plan must keep
    "q161_source_jsd", "q162_basket_pairs", "q164_kn_continuation",
    // r15 third wave: q173's supplier/nation dim hints
    "q173_supplier_hhi",
    // r15 fourth wave: q176's five dim-parent anti-probe hints
    "q176_fk_audit",
    // r16 wave 3: q196's part-dim broadcast hint
    "q196_price_bands",
    // r16 wave 4: q199's part label / q200's supplier-name broadcasts
    "q199_small_orders", "q200_blocked_orders")
  // q115's ground-truth branch is the q40 broadcast-sample scan — the
  // audit's declared, sample-bounded cost. (q50 was delisted in r13: it
  // has been a banded broadcast equi-join since r1, so a cartesian there
  // is a regression this audit must catch, not whitelist.)
  // q161's cross is the |sources|²/2 totals grid — two |sources|-row
  // aggregates, a mix-audit's handful of rows, never data-scale; it
  // exists so a zero-overlap source pair still reports its JSD.
  // q194's cross is the declared |sources| × |distinct lengths| KS
  // evaluation grid (q161's dim-grid class — bounded by the length value
  // domain, never the corpus)
  // q205's cross is the |anon combos| × m sensitive-domain EMD grid and
  // q206's is the |langs| × |sources| contingency grid — both dim-grid
  // class (q161/q194's): bounded by attribute domains, never the corpus
  // q211's cross is the |Q|-sample exact-truth pass (q115's declared
  // brute class — the ADC scan itself is the broadcast-LUT linear path)
  private val allowCross =
    Set("q40_cosine_topk", "q41_embedding_neardup", "q115_ivf_recall",
      "q161_source_jsd", "q194_ks_drift", "q205_t_closeness", "q206_chi_square",
      "q211_pq_recall",
      // r16: q228 reads q211's exact-distance pair relation (the same
      // declared |Q|·n broadcast sample cross)
      "q228_adc_calibration",
      // r16 wave 34: q247's truth branch is the same adcTruthPairs
      // sample cross (q211/q228's declared class); the Hamming ranker is
      // a broadcast |Q|-row sketch join, sample-bounded by construction
      "q247_rrf_fusion",
      // r16 wave 29: q239 rides q194's grid verbatim (lenEcdfGrid) —
      // the same declared |sources| × |distinct lengths| cross
      "q239_mann_whitney",
      // r16 wave 24: q232's cross is a broadcast SINGLE-ROW scalar
      // threshold (max-ts/fixed-value bounds) against the block relation
      // — the degenerate 1-row end of the q161 dim-grid class
      "q232_zonemap_skipping",
      // r17: q259's cross is the candidate×|Q| scoring grid (|Q|=3 query
      // terms broadcast — the q161 dim-grid class; Dirichlet smoothing
      // NEEDS the missing-term rows, that is its point) plus the 1-row
      // corpus-totals broadcast (q232's scalar class)
      "q259_ql_dirichlet",
      // r17: q257's cross is the 1-row complete/censored totals
      // broadcast back onto the week histogram (q232's scalar class)
      "q257_km_survival",
      // r17 session 2: q269's cross is the declared |Q|·n truth-baseline
      // sample cross (q40/q115/q211's class — 16 queries broadcast)
      "q269_mrl_fidelity",
      // r17 session 2: q270's inequality joins are the PAVA minimax
      // interval grid over the <= 16-row bin relation (q161's
      // metadata-grid class — 136 intervals, 816 triples)
      "q270_isotonic_calibration",
      // r17 session 2: q273's crosses are the 1-row exact-F2 and median
      // scalars broadcast onto the 8-row group relation (q232's class)
      "q273_ams_f2",
      // r17 session 2: q274's crosses are the 1-row corpus totals
      // (q232's scalar class) and the |sources| x |len domain| ECDF
      // grid (q161's class); the rank-pick interval join goes through
      // RangeJoin.bucketed — a bucket EQUI-join, not a nested loop
      "q274_quantile_norm",
      // r17 session 2: q275's cross is the 1-row τ/excluded-id pick
      // broadcast onto the (k+1)-bounded sample relation (q232's scalar
      // class — both sides are k-bounded by TakeOrderedAndProject)
      "q275_priority_sample",
      // r17 session 2: q276's crosses are the 1-row corpus-type and
      // corpus-chars scalars broadcast onto the |sources| result
      // relation (q232's scalar class)
      "q276_source_ablation",
      // r17 session 2: q277's crosses are the 1-row m/u-count, 8-weight
      // and score-min scalars broadcast onto the candidate-bounded pair
      // relation (q232's scalar class)
      "q277_linkage_score",
      // r17 session 2: q282's crosses are the 1-row center picks
      // broadcast onto the running min-distance relation, one per
      // unrolled Gonzalez round (q232's scalar class; q272's unrolled-
      // greedy precedent)
      "q282_kcenter_greedy",
      // r17 session 2: q279's crosses are the 1-row truth-size and
      // n(n-1)/2 scalars broadcast onto the 4-row scheme relation
      // (q232's scalar class)
      "q279_blocking_bench",
      // r17 session 2: q283's crosses are the 1-row domain scalars onto
      // the bounded cell relation plus the |preds|x|buckets| and
      // |preds|x|cells| estimation/truth grids (q161's metadata class)
      "q283_selectivity_audit",
      // r17 session 2: q285's cross is the 1-row budget scalar onto the
      // |sources| plan relation; q286's is the 1-row totals scalar onto
      // the 2-row policy relation (q232's scalar class)
      "q285_budget_mix", "q286_rep_selection",
      // r17 session 2: q289's crosses are the 1-row global-totals scalar
      // onto the customer relation and the 1-row T/between/within
      // summary onto the |nations| relation (q232's scalar class)
      "q289_theil_decomp")
  // q50's band join key is computed from c_custkey, so Spark synthesizes an
  // isnotnull(<computed>) filter above the scan — nothing to push down.
  // q69's filter is Spark's own size(links)>0 guard under posexplode, over
  // a from_json-computed structure — inherently unpushable; the scan still
  // prunes to (doc_id, source).
  // q76's token <> '' filter and q77's size(words) >= 2 guard sit above a
  // computed split — nothing exists at the scan to push; the scans still
  // prune to (text) / (doc_id, text).
  // q90's term <> '' filter and q97's size(words) >= 2 guard sit above an
  // exploded/computed split — nothing at the scan to push (q76's class);
  // the scans still prune to (doc_id, text) / (doc_id, source, text).
  // q98's query-term IN filter is the same class: it culls the exploded
  // token stream map-side (the point of the operator), over a computed
  // split the scan can't see; q102's LM branches carry the same
  // explode-guard (size(split)>0) above two-column scans
  // q121's token <> '' filter is q76's class exactly: above an exploded
  // computed split, nothing at the scan to push; scan prunes to
  // (doc_id, source, text)
  // q130's and q136's token <> '' filters are the same class (q76's
  // token stream); q139's bigram guards are q77's class exactly.
  // r15: q151's size(words) >= 2 guard is q77's class, q152/q155's
  // token <> '' filters are q76's class — all above computed splits,
  // nothing at the scan to push; scans still prune to the text columns.
  // Second wave: q160/q161/q163's token <> '' and q164's bigram guards
  // are the same two classes exactly.
  // Third wave: q167/q168's token <> '' filters are q76's class (above a
  // computed split, nothing at the scan to push); q168's power-of-two
  // checkpoint filter sits above a window rank — same class.
  private val allowUnpushed =
    Set("q50_haversine", "q69_href_rewrite", "q76_heavy_hitters", "q77_bigram_lm",
      "q90_tfidf", "q97_rare_bigrams", "q98_bm25", "q102_dsir", "q121_token_rarity",
      "q130_cms_calibration", "q136_vocab_coverage", "q139_pmi",
      "q151_lm_ppl_bins", "q152_distinct_ngrams", "q155_token_burstiness",
      "q159_context_entropy", "q160_zipf_slope", "q161_source_jsd",
      "q163_token_gini", "q164_kn_continuation",
      "q167_good_turing", "q168_heaps_law",
      // Fifth wave: q185's size(words) >= 25 guard is q77's class; q181's
      // doc_id % 2 split and q184's us < cutoff sit above computed
      // expressions (modulo / an exploded join column) — nothing at the
      // scan to push; the scans still prune to their column sets.
      "q185_mattr", "q181_bloom_calibration", "q184_pit_snapshot",
      // r17: q259's query-term IN filter culls the exploded token stream
      // map-side (q98's class exactly) — above a computed split, nothing
      // at the scan to push; the scan still prunes to (doc_id, text)
      "q259_ql_dirichlet",
      // r17: q264's bigram guards are q151's class exactly (above the
      // computed split; scan prunes to (doc_id, source, text))
      "q264_min_k_prob")
  // q83's running-max window runs over the per-batch maxima relation —
  // |batches| rows (stream duration / batch interval), never event volume.
  // q136's cumulative runs over the count-of-counts HISTOGRAM — ≤ √(2·Σ)
  // rows by the k(k+1)/2 pigeonhole (≈6 M at 2·10¹³ tokens), provably
  // sublinear in both corpus and vocab; that bound is the whole point of
  // its histogram formulation
  // q194's unpartitioned cumulative runs on the DISTINCT-LENGTH relation
  // (value-domain-bounded, q136's class), never the corpus
  // q239 shares q194's grid (lenEcdfGrid), including its distinct-length
  // global cumulative — the same value-domain-bounded exemption
  private val allowGlobalWindow =
    Set("q83_late_data", "q136_vocab_coverage", "q194_ks_drift", "q239_mann_whitney",
      // r17 session 2: q270's prefix-sum window runs on the <= 16-row
      // score-bin relation (q136's bounded-domain class)
      "q270_isotonic_calibration",
      // r17 session 2: q273's median window ranks the 8-row group
      // relation (same bounded-domain class)
      "q273_ams_f2",
      // r17 session 2: q274's pooled-ECDF cum window runs on the len
      // DOMAIN histogram (q136's bounded class — the corpus collapsed
      // map-side first)
      "q274_quantile_norm",
      // r17 session 2: q283's cum window runs on the whole-unit value
      // CELL domain (q194's value-bounded class — corpus collapsed
      // map-side first)
      "q283_selectivity_audit",
      // r17 session 2: q285's rank/cum windows run on the |sources|-row
      // plan relation (domain-scale, the q83 class)
      "q285_budget_mix")
  // ops that legitimately need several exchanges (multi-stage: explode→join→agg etc.)
  private val exchangeBudget: Map[String, Int] = Map(
    "q37_lsh_pairs" -> 3, "q38_ngram_jaccard" -> 6, "q13_set_ops" -> 4,
    // same candidate-bounded two-key-join shape as q38, minus its filter
    "q86_minhash_estimate" -> 4,
    // candidate-bounded union-of-K-projections (q38's shape): slim bucket
    // self-join + pair distinct + two vector-fetch key joins + top-k sort;
    // every exchange is pair- or corpus-linear, never pair×vector-width
    "q42_ann_sign_lsh" -> 8,
    // union-of-distincts + anti join (populate_catalog shape)
    "q58_catalog_merge" -> 5,
    // block self-join + pair-distinct + output sort
    "q63_simhash_pairs" -> 4,
    // explode→centroid agg→broadcast join→pair agg→argmin window→sort,
    // plus the r9 trainIvf relabel join (assignment keyed on vec_id);
    // every shuffle is narrow (|labels|·|dims|, then |vecs|·|labels| rows)
    "q71_kmeans_step" -> 6,
    // centroid agg → probe scoring agg → probe-rank window → neighbor
    // top-k window → sort; probe list and queries broadcast, so all five
    // exchanges move |queries|- or |labels|-scale rows, never the corpus
    "q74_ivf_multiprobe" -> 5,
    // eval-shingle freq agg (hot cap) → anti-join → pair agg → sort;
    // each keyed on shingle or pair, linear in corpus
    "q75_decontaminate" -> 4,
    // corpus hash window + component join + source rollup + sort —
    // the q62 loop itself runs on checkpointed edges outside this plan
    "q79_dedup_report" -> 5,
    // bigram pair agg → w1 window marginal → sort
    "q77_bigram_lm" -> 3,
    // per-dim stats agg → broadcast back → per-dim error agg → sort;
    // every shuffle is |dims|- or |corpus·dims|-narrow
    "q78_embedding_quantize" -> 4,
    // per-batch max agg → single-partition exchange for the (tiny,
    // |batches|-row) running-max window → 15-min rollup → sort
    "q83_late_data" -> 4,
    // tf agg → vocab-bounded df agg → term-keyed join → per-doc top-k
    // window → sort; the doc-count scalar broadcasts
    "q90_tfidf" -> 6,
    // distinct (source, shingle) → per-shingle membership agg → pair agg,
    // with the sizes branch hanging off the same membership relation. The
    // shared 2-exchange subtree prints once PER BRANCH here (10 textual);
    // at runtime AQE dedupes it — ScaleSpec pins ReusedExchange + a single
    // shingle-kernel run, so the effective count is 6; size lookups
    // broadcast
    "q92_source_overlap" -> 10,
    // (doc, line) occurrence agg → line-owner agg (+ ownership join) →
    // source rollup → sort
    "q89_line_dedup" -> 4,
    // q92's exact chain (audit reference) + the sketch branch: distinct →
    // per-source bounded bottom-k aggregate (map-side partial buffers, no
    // window) → |sources|²-row pair join; shared subtrees print per
    // branch, AQE dedupes at runtime (the q92 ScaleSpec pin covers the
    // shared kernel)
    "q95_overlap_sketch" -> 14,
    // corpus pair agg → (w1,w2) join repartition (doc side) → per-doc agg
    // → source rollup → sort; the exploded stream prints per branch
    "q97_rare_bigrams" -> 7,
    // query-term tf agg → single-row stats agg → |query|-row df agg →
    // per-doc sum; every exchange ≤ |docs|·|query| rows, top-20 is
    // TakeOrderedAndProject (no sort exchange)
    "q98_bm25" -> 5,
    // within-cluster pair join (one keyed shuffle per side) → pair-stat
    // aggs + distinct-drop agg → per-label rollup joins (broadcast) →
    // sort; pair work is Σ|cluster|², all exchanges label-keyed
    "q101_semdedup" -> 7,
    // corpus LM agg + target LM agg (vocab-bounded, printed once per
    // consuming branch — weights AND scalar totals; AQE exchange reuse
    // collapses the shared subtrees at runtime) → scalar rows → weight
    // join (broadcast) → per-doc sum; top-20 is TakeOrderedAndProject
    "q102_dsir" -> 7,
    // one corpus pass: (source, fp) agg (per-doc stats ride the pos=0
    // row) → |vocab|-scale source rollup → sort; selection is map-side
    "q105_winnow" -> 3,
    // base-hash distinct + batch canonical agg + (band,sig) index probe
    // (base distinct + batch side) + near-id distinct + classification
    // joins + rollup — every exchange keyed on h/(band,sig)/doc_id and
    // bounded by the batch or the deduplicated base index, never base²
    "q107_delta_dedup" -> 6,
    // (media_type, profile) block self-join (one keyed shuffle per side)
    // → pair rollup + blob/block rollup (countDistinct two-phase) →
    // |modalities|-row join + sort; signatures are map-side kernel work
    "q108_blob_neardup" -> 4,
    // vocab-bounded term agg (the one corpus-scale shuffle) → single-row
    // totals agg (printed per consuming branch; broadcast back) →
    // 3-pair vocab-scale agg → sort
    "q110_split_shift" -> 5,
    // single-row percentile cutoff agg (broadcast back) + split rollup
    // with countDistinct (two-phase) + sort; classification is map-side
    "q112_temporal_split" -> 4,
    // window-hash agg (partial collapses hot windows map-side) +
    // position-attribution join (both sides keyed on the hash) + source
    // rollup with countDistinct (two-phase) + sort
    "q113_substring_windows" -> 4,
    // q74's probe machinery (centroid agg + probe scoring agg + rank
    // window) + the q40 truth branch (sample window) + swept-candidate
    // window + per-query agg + final rollup + sort; the quantizedEv and
    // vectors subtrees print once per consuming branch (AQE reuses at
    // runtime) — every exchange is |sample|- or candidate-scale
    "q115_ivf_recall" -> 11,
    // q38's candidate chain (bucket self-join + pair agg + two shingle-set
    // key joins, broadcasts absorbing most) + the |configs|-row sweep
    // rollup + sort
    "q116_lsh_tuning" -> 4,
    // the same q38 chain + τ-explode distinct + dropped-chars join +
    // pair/drop rollups + the 3-row assembly joins + sort
    "q117_dedup_sweep" -> 7,
    // first-touch min agg (user-keyed) + event⋈first join (the key a
    // 100 TB event lake buckets by — exchange-free on bucketed storage)
    // + (cohort, offset, user) distinct + matrix agg + cohort-size agg
    // (hangs off the first-touch subtree) + sort; sizes join broadcasts
    "q119_cohort_retention" -> 6,
    // one h-keyed membership-set agg + split rollup (window level), one
    // h-keyed doc-attribution probe join + its split rollup (countDistinct
    // expands), final |splits|-row join+sort — window-vocabulary-bounded
    "q120_split_leakage" -> 6,
    // vocab-scale freq agg (w), the one corpus-scale token-keyed re-join,
    // doc-keyed partial rollup, |sources|-row sort
    "q121_token_rarity" -> 4,
    // one h-keyed membership-set agg (collect_set partials dedup
    // map-side), source rollup, output sort — window-vocabulary-bounded
    "q122_window_novelty" -> 3,
    // |dims|-keyed accumulator agg, 1-row L1 total (single-partition agg),
    // broadcast join back, |dims|-row output sort — nothing corpus-keyed
    // after the map-side fold+explode
    "q124_power_iter" -> 4,
    // bigram pair agg (the one corpus-scale shuffle; prints once per
    // consuming branch — support-filtered pairs, both marginals, and the
    // scalar total; AQE reuses at runtime) → two vocab-scale marginal
    // aggs + their joins; top-50 is TakeOrderedAndProject
    "q139_pmi" -> 7,
    // corpus-wide head-hash agg (partial agg collapses hot heads
    // map-side) → hash-keyed membership join → source rollup with
    // countDistinct (two-phase) → sort
    "q140_prefix_boilerplate" -> 4,
    // h-keyed train-df agg with countDistinct (two-phase expand) + the
    // (split, h) eval distinct + their h-keyed join + single-row train
    // doc-count agg (broadcast back; prints per branch, AQE reuses the
    // shared window subtree) + |splits|-row rollup + sort
    "q146_leak_severity" -> 7,
    // one h-keyed joint membership-set agg (prints once per consuming
    // branch — per-source pairs AND the per-split totals; AQE reuses) →
    // (split, source) rollup + |splits|-row totals agg (broadcast back)
    // → sort; everything after the spread is membership-set-bounded
    "q143_leakage_by_source" -> 5,
    // (label, half, dim) partial-aggregable sum (the one corpus-scale
    // shuffle; prints once per half-filter branch, AQE reuses) →
    // (label, dim) A⋈B join → |labels|-row rollup + sort
    "q145_embedding_drift" -> 4,
    // label-keyed size agg + hit-pair label agg with countDistinct
    // (two-phase expand) + flagged-join assembly + sort; the eval slice
    // and flagged rollup broadcast
    "q137_semantic_decon" -> 4,
    // (type, day) count agg (the corpus-scale pass; prints once per
    // consuming branch — profile AND stats) → |types|-row mean/σ agg
    // (broadcast back) → profile-relation sort
    "q138_volume_anomaly" -> 4,
    // vocab token-count agg (the one corpus-scale shuffle) → count-of-
    // counts histogram agg → single-partition exchange for the (provably
    // √-bounded) cumulative window → totals single-row agg (prints per
    // consuming branch) → |cutoffs|-row sort
    "q136_vocab_coverage" -> 5,
    // vocab token-count agg (the one corpus-scale shuffle; prints once per
    // consuming branch — sketch AND probe top-50, AQE reuses at runtime) →
    // (row, bucket) vocab-scale sketch agg → 50·d-row probe join
    // (sketch broadcast) → per-token min agg → sort
    "q130_cms_calibration" -> 5,
    // (user, day) distinct (partial-agg map-side), ONE user-keyed shuffle
    // shared by the rank window + island rollup, |streaks|-scale histogram
    // agg, |lengths|-row sort
    "q125_activity_streaks" -> 4,
    // r13: the q126-q150 wave pinned to its MEASURED shuffle count (no
    // silent default-3 rides — a lost broadcast or a new exchange trips
    // the audit instead of hiding under the default). One line each:
    // packing-stat agg → |configs| explode rollup → sort
    "q126_pack_sweep" -> 3,
    // pairStats chain (band join + pair agg; shingle fetches broadcast at
    // this SF) → quartile rollup → sort
    "q127_containment" -> 3,
    // source rollup → |T|·|sources| metadata explode agg → sort
    "q128_temperature_mix" -> 3,
    // pairStats chain + two cap_text key joins (broadcast-absorbed at
    // this SF) → class rollup → sort — the DP rides map-side
    "q129_edit_verify" -> 3,
    // normalized-hash canonical agg + uplift rollup → sort
    "q131_norm_dedup" -> 3,
    // (label, dim) centroid agg → assignment probe agg → sort
    "q132_pq_quantize" -> 3,
    // user rollup → concentration histogram agg → sort
    "q133_user_concentration" -> 3,
    // user-keyed lag window → gap histogram agg → sort
    "q134_event_gaps" -> 3,
    // per-doc token/subword stats ride the scan; source rollup → sort
    "q135_tokenizer_fertility" -> 2,
    // per-blob byte-histogram kernel map-side; modality rollup → sort
    "q141_payload_entropy" -> 2,
    // planted-pair probe join rides broadcast; recall rollup → sort
    "q142_planted_recall" -> 2,
    // per-doc score agg → calibration-band rollup → sort
    "q144_score_calibration" -> 3,
    // q62's component machinery (its loop runs on checkpointed edges
    // outside this plan) + size-histogram rollup → sort
    "q147_cluster_sizes" -> 3,
    // first-touch agg → |windows| explode rollup → sort
    "q148_attribution_sweep" -> 3,
    // (type, hour) count agg → type-keyed share/peak window → sort
    "q149_hourly_seasonality" -> 3,
    // label-keyed cluster agg → per-source entropy rollup → sort
    "q150_source_diversity" -> 3,
    // r15 wave, pinned to measured counts (the r13 no-default-rides rule):
    // q77's LM chain (pair agg + w1 marginal window) + doc⋈LM join +
    // per-doc agg + |lang|-row cutoff percentile agg (broadcast back) +
    // per-(lang,bin) rollup + sort; the doc-bigram explode subtree prints
    // once per consuming branch (pairs agg AND join probe — AQE reuses
    // at runtime), hence 9 textual for 7 effective
    "q151_lm_ppl_bins" -> 9,
    // chain merge agg → w1 marginal window → per-w1 entropy agg +
    // single-row total (broadcast back); top-30 TakeOrdered — zero
    // corpus (the pair table IS the input)
    "q159_context_entropy" -> 4,
    // one (source, kind, token) union stream → two-level count-distinct
    // rewrite (partial on token key, final on (source, kind)) →
    // |sources|-row pivot rollup → sort
    "q152_distinct_ngrams" -> 4,
    // combo agg's distinct-user two-phase rewrite (2) → |types|-row
    // rollup → sort; combos bounded by |types|·24·|bands|
    "q153_k_anonymity" -> 4,
    // cell-keyed kNN self-join (one keyed shuffle per side) + rank
    // window + reversed-key semi-join + per-cell rollups + sort; the
    // EDGE subtree prints once per consuming branch (semi-join probe,
    // build, and edge-count rollup — AQE reuses at runtime), hence 9
    // textual; every exchange is cell- or k·n-bounded, never global n²
    "q154_knn_reciprocity" -> 9,
    // (token, doc) tf agg (partial map-side) → vocab-bounded rollup;
    // top-30 is TakeOrderedAndProject
    "q155_token_burstiness" -> 2,
    // ×3 zoom explode rides the scan → tile agg (partial map-side,
    // ≤ Σ4^z keys) → 3-row zoom rollup → sort
    "q156_tile_pyramid" -> 3,
    // per-customer order rollup (the one fact-scale shuffle) → equi-join
    // to customer on the co-partitionable key → |collection|-row extent
    // agg → sort; nation broadcasts
    "q157_stac_extent" -> 3,
    // q71's scoring shape: |cells|·|dims| centroid agg (broadcast back) →
    // (vec, cell) distance agg → per-vector a/b fold → |cells|-row
    // rollup → sort; the scoring fan-out partial-aggregates map-side
    "q158_centroid_silhouette" -> 5,
    // q191 (r16): centroid agg (broadcast back) → per-vector own-cell
    // fold (partial-aggregates map-side) → label-partitioned outlier
    // window (the rollup reuses its exchange — same key) → sort
    "q191_cell_outliers" -> 4,
    // q193 (r16): q191's centroid agg + per-vector fold → scatter rollup
    // — whose subtree PRINTS three times (both gap-join sides + the final
    // assembly; AQE reuses the exchange) — plus the |cells|²·dims gap
    // grid's pair-keyed agg (metadata-scale), argmax rollup, sort
    "q193_davies_bouldin" -> 14,
    // q195 (r16): the session components relation (candidate-bounded,
    // built eagerly with cut lineage) → membership flag join → checkpoint
    // filter-HOF explode rollup (≤|checkpoints| keys; countDistinct
    // expands two-phase) → broadcast total cut → sort
    "q195_dedup_saturation" -> 6,
    // r15 second wave, measured textual counts:
    // q161: the restricted-vocab subtree (corpus (source,token) agg →
    // top-200 join → source-partitioned totals window) prints once per
    // consuming branch (self-join a/b sides + the totals grid ×2) — AQE
    // reuses the identical agg exchanges at runtime, so the corpus is
    // scanned ONCE; every exchange after the agg is (|src|·200)-bounded
    "q161_source_jsd" -> 18,
    // q162: the distinct-items subtree prints per consuming branch
    // (self-join ×2, part marginals, order total — AQE reuses); pair
    // agg + two marginal joins, all basket- or co-occurrence-bounded
    "q162_basket_pairs" -> 5,
    // q164: the pair-table agg prints per consuming branch (left agg,
    // right agg, |types| total — AQE reuses); the full-outer token join
    // and everything after are vocab-bounded
    "q164_kn_continuation" -> 6,
    // q165: one (bin) count agg with the split flag collapsed into
    // conditional sums + totals branch (AQE reuses) + the 3-pair
    // explode's rollup — everything after the first agg is ≤10 rows
    "q165_length_psi" -> 5,
    // q166: user-keyed lag window (the one corpus-scale shuffle) →
    // |types|² transition agg → prev-partitioned marginal window →
    // per-state rollup → sort
    "q166_event_transitions" -> 4,
    // q190 (r16): q166's lag window (the one corpus-scale shuffle, now
    // carrying both lags) → |types|³ trigram agg → (prev2,prev1) context
    // window + rollup (co-partitioned — one exchange) → the trigram
    // marginal's prev1 agg + window + entropy rollup → broadcast gain
    // join → sort; everything past the window is transition-matrix-scale
    "q190_transitions2" -> 8,
    // q192 (r16): one fact-scale per-level fan-out count (collapses onto
    // dim keys map-side) + the nation-level count → dim-scale childless
    // outer joins (broadcast) → two single-row rollups (each prints one
    // exchange) → union sort folds into TakeOrdered-style merge
    "q192_catalog_fanout" -> 4,
    // q194 (r16): two corpus-scale partial-aggregable counts ((len) and
    // (source, len)) + the |sources| rollup; the distinct-length cum
    // window and the grid's per-source cum window run on domain-bounded
    // relations; per-source argmax rollup → sort
    "q194_ks_drift" -> 6,
    // q196 (r16 wave 3): broadcast part dim → |brands|-key rollup
    // (partial map-side) → sort (measured 2)
    "q196_price_bands" -> 2,
    // q197 (r16 wave 3): one corpus-scale (source, len) count → the
    // per-source cum + total windows on the length-TYPE relation → ×4
    // target explode → per-source rollup → sort (measured 3)
    "q197_length_quantiles" -> 3,
    // q198 (r16 wave 3): one user_id shuffle carries the session_window
    // agg; the per-user rollup reuses the key → sort (measured 2)
    "q198_stream_sessions" -> 2,
    // q199 (r16 wave 4, TPC-H Q17 shape): per-part avg agg + fact
    // rejoin co-partitioned on l_partkey (AQE reuses one exchange);
    // brand rollup; sort (measured 3)
    "q199_small_orders" -> 3,
    // q200 (r16 wave 4, TPC-H Q21 shape folded to ONE pass): orders
    // join + per-order distinct aggs + qualifying-pair join all key on
    // l_orderkey (the co-bucket key; distincts expand two-phase);
    // supplier broadcast; per-supplier rollup; top-20 TakeOrdered
    // (measured 5)
    "q200_blocked_orders" -> 3,
    // q201 (r16 wave 4): checksum work map-side next to the scan; q24's
    // source-partitioned batch window (one shuffle, rollup reuses) →
    // sort (measured 2)
    "q201_batch_progress" -> 2,
    // q202 (r16 wave 5): one o_custkey shuffle carries both time-RANGE
    // frame aggregates → output sort
    "q202_trailing_orders" -> 2,
    // q203 (r16 wave 5): doc-partitioned chunk-id window → (doc, chunk)
    // assembly agg → hh ownership agg + join (q35's groupBy+join idiom)
    // → source rollup → sort
    "q203_cdc_chunks" -> 5,
    // q204 (r16 wave 6): q182's per-branch key count (one partial-
    // aggregable shuffle each, single-row fold) ×4 branches → union sort
    "q204_selfjoin_forecast" -> 8,
    // q205 (r16 wave 7): TWO corpus-scale partial-aggregable passes (the
    // (combo, sens) counts and q153's distinct-user gate, the latter
    // two-phase); the global-distribution agg, the m-row triangular cum,
    // the derived total (AQE reuses comboSens's exchange), the grid join,
    // the combo-partitioned cum window, and both rollups all run on the
    // |combos|·m grid or smaller (measured 11)
    "q205_t_closeness" -> 11,
    // q206 (r16 wave 7): ONE corpus-scale (lang, source) count whose
    // exchange every marginal/total branch AQE-reuses; the crossed grid,
    // decimal cell terms, and the per-lang rollup are contingency-scale
    // (measured 9)
    "q206_chi_square" -> 9,
    // q207 (r16 wave 7): per FD branch, the (lhs, rhs) partial-aggregable
    // count → lhs rollup → single-row fold (3 exchanges each, the last
    // two domain-bounded) ×6 branches (measured 18)
    "q207_fd_audit" -> 18,
    // q211 (r16 wave 9): assignment argmin agg + the ADC (qid, vec)
    // rollup + both per-query top-10 windows + the recall fold — every
    // exchange is corpus-linear or sample-bounded; the LUT broadcasts
    // (measured 8)
    "q211_pq_recall" -> 8,
    // r15 third wave, measured textual counts:
    // q167: sourceVocab agg (the one corpus-scale shuffle) → |source|
    // rollup → sort
    "q167_good_turing" -> 3,
    // q168: (source,doc) token agg + (source,token) first-occurrence agg
    // → its (source,doc) new-type rollup → the left join's co-partition
    // exchanges → ONE source-keyed window (both running sums + rank) →
    // OLS rollup → sort; every post-corpus exchange is doc- or
    // vocab-bounded
    "q168_heaps_law" -> 5,
    // q169: q62's component machinery (loop runs on checkpointed edges
    // outside this plan, q147's class) + doc provenance join + cluster
    // agg (countDistinct two-phase) + span rollup + sort
    "q169_cluster_span" -> 4,
    // q170: cell-keyed pair self-join (one keyed shuffle per side) →
    // a_id-keyed top-2 window + (label,a_id) pivot agg → |cells| rollup
    // → sort; pair work is Σ|cell|² (q41/q154's bound), never global n²
    "q170_ann_margin" -> 3,
    // q171: (source, shingle) membership agg (partial map-side; the one
    // corpus-scale shuffle) → |source| rollup → sort
    "q171_shingle_reuse" -> 3,
    // q172: the pairStats chain prints once per consuming branch (degree
    // union ×2, edge counts, triangle e1/e2/e3 — AQE reuses the identical
    // exchanges at runtime, ScaleSpec's q92 pin covers the class); the
    // graph itself is candidate-bounded so every exchange after the chain
    // is edge- or degree-scale
    "q172_dup_transitivity" -> 9,
    // q212 (r16 wave 9): q172's class exactly — the pairStats chain
    // prints once per consuming branch (degree union ×2, the two
    // endpoint-degree joins, the per-graph sum fold; AQE reuses the
    // identical exchanges at runtime); everything after the chain is
    // edge- or degree-scale (measured 22)
    "q212_assortativity" -> 7,
    // q215 (r16 wave 11): the shared knnEdges chain (cell-keyed pair
    // self-join + the per-query rank window) prints once per consuming
    // branch — in-degree agg, the zero-degree left join, the |cells|
    // stats rollup, the distribution-counting p95 branch (dist agg +
    // label-partitioned cumulative + min fold) — AQE reuses the
    // identical exchanges at runtime (q172/q212's class); everything
    // after the edge list is |vecs|-, domain-, or |cells|-scale
    // (measured 11)
    "q215_knn_hubness" -> 11,
    // q222 (r16 wave 16): one keyed exchange per bag-semantics branch
    // (intersectAll/exceptAll each plan as a single custkey aggregate)
    // plus each branch's multiplicity rollup; the per-branch single-row
    // folds ride coalesced partitions (measured 4)
    "q222_multiset_ops" -> 4,
    // q239 (r16 wave 29): q194's grid chain verbatim (lenEcdfGrid —
    // the global-length cumulative, the per-source cumulative, the
    // source/total aggs) + the |sources|-row U fold and sort; same
    // measured count as q194 (6)
    "q239_mann_whitney" -> 6,
    // q238 (r16 wave 28): the ONE corpus-scale (source, lang, predicted)
    // count prints per consuming branch (stats, the two marginals, the
    // class-matched marginal join) — AQE reuses it (q231/q224's class);
    // marginals, the rc join and the kappa arithmetic are all
    // ≤|sources|·|langs|² grid-scale (measured 8)
    "q238_cohens_kappa" -> 8,
    // q236 (r16 wave 27): the fact-window gap pass is localCheckpointed
    // at the (seg, gap) day-domain histogram (q220's pattern — it would
    // otherwise reprint per consuming branch, measured 22 textual); the
    // remaining exchanges are the domain-scale stats/cumulative/pick
    // chain (q224's class, measured 8)
    "q236_order_cadence" -> 4,
    // q237 (r16 wave 27): the o_custkey first-year agg + its co-
    // partitioned rejoin to the fact (q199's class, 3 textual incl.
    // AQE-reused prints), the ≤|years|² (cohort, age) rollup, its
    // cumulative window and the size join+sort on the same grid
    // (measured 6)
    "q237_cohort_ltv" -> 6,
    // q244 (r16 wave 32): the corpus-scale quantizedEv→centroid chain
    // prints once per consuming branch (the per-dim global totals, the
    // between join, ownCellFold's own centroid probe, the within rollup,
    // the cells join and the 1-row CH fold) — AQE reuses the identical
    // exchanges at runtime (q172/q212's class); everything after the
    // centroid relation is |cells|·|dims|- or single-row-scale
    // (measured 16)
    "q244_calinski_harabasz" -> 16,
    // q247 (r16 wave 34): single-pass fusion — the Hamming rank window,
    // the codebook/assignment/LUT chain's aggregates (q211/q228's class),
    // the truth ranking, the full-outer list join and the ONE per-query
    // rollup; every post-chain exchange is |Q|·50 list-scale
    // (measured 12; the four-rollup draft measured 31 and re-ran the
    // ADC chain per consumer — rejected on the Time knob, 5.8 s → 2.4 s)
    "q247_rrf_fusion" -> 12,
    // q245 (r16 wave 33): two corpus-scale partial-aggregable passes
    // (orders → month counts; lineitem → per-order max-ship, the
    // co-bucket key) + the finish month rollup + the month-grid
    // outer-join/window assembly (measured 4, all but the l_orderkey
    // agg domain-scale)
    "q245_order_backlog" -> 4,
    // q248 (r16 wave 36): the candidate-pair relation is checkpointed
    // (one LSH-verify derivation feeds its three consumers); the prints
    // are the checkpoint's own build (band self-join + shingle joins)
    // plus the semi-join/sig-join assembly — all candidate-bounded, the
    // decile rollup is ≤ 10 rows (measured 6)
    "q248_bbit_minhash" -> 6,
    // q249 (r16 wave 37): the ONE corpus-scale o_custkey rollup prints
    // per consuming branch (three metric histograms + the scored base —
    // q231/q224's AQE-reuse class); each histogram's cumulative/boundary
    // chain is value-domain-scale, the boundary folds are 1-row
    // broadcasts, the cell rollup is ≤125 rows (measured 16)
    "q249_rfm_segments" -> 16,
    // q250 (r16 wave 38): the ONE corpus-scale l_suppkey rollup (after
    // the co-bucket-key lineitem⋈orders spine) prints for the frontier
    // branch and the totals fold (AQE-reused); the dominance windows and
    // name/totals attach are supplier-dimension-scale (measured 4)
    "q250_supplier_skyline" -> 4,
    // q251 (r16 wave 39): the ONE corpus-scale (lang, source) count
    // prints per consuming branch — both marginals, both conditional-
    // entropy rollups, the totals fold, and each global entropy (q238's
    // AQE-reuse class; the four 1-row global relations then broadcast);
    // every post-count exchange is ≤|langs|·|sources| grid-scale
    // (measured 27)
    "q251_theils_u" -> 27,
    // q252 (r16 wave 40): the corpus-scale (day) sketch agg (partial-
    // aggregable HLL buffers) + the week union agg + the exact audit's
    // two-phase (week, user) distinct + the week join/sort (measured 5;
    // the stores-mode ledger read drops the day agg — measured 4 there,
    // pinned in storeExchangeBudget)
    "q252_hll_rollup" -> 5,
    // q265 (r17): q62's component machinery (loop on checkpointed edges
    // outside this plan, q147's class) + the corpus left join onto the
    // labels; the two method branches each print their (method, cluster)
    // rollup + method fold, plus the final 2-row sort — everything after
    // the components is corpus-linear, keyed on cluster (measured 8)
    "q265_cluster_split" -> 8,
    // q263 (r17): the three synchronous PageRank rounds run on
    // CHECKPOINTED relations outside this plan (q62/q147's loop class —
    // per round one edge-keyed join+agg, candidate-bounded, measured 7
    // textual per round at build time); the printed plan is the final
    // checkpointed rank vector + TakeOrdered (measured 0)
    "q263_pagerank" -> 0,
    // q261 (r17): the 9-key digit rollup (prints once per consuming
    // branch — histogram AND the 1-row totals; AQE reuses) + the totals'
    // single-partition agg + sort — everything post-rollup is 9 rows
    // (measured 4)
    "q261_benford_audit" -> 4,
    // q262 (r17): ONE corpus-scale (source, b) weighted-sum agg (the ×B
    // explode rides the scan map-side) → per-source B-row rank window →
    // CI rollup (shares the source key) + the full-sample source rollup
    // + the assembly join + sort (measured 4)
    "q262_bootstrap_ci" -> 4,
    // q266 (r17): both HRW argmaxes are per-row array folds next to the
    // scan (no explode, no join); the ONE data exchange is the
    // partial-aggregable (method, shard) rollup onto <= 34 keys, then
    // the 2-key method fold + 2-row sort (measured 3)
    "q266_shard_rebalance" -> 3,
    // q267 (r17): the ONE corpus-scale exchange is the (prio, month)
    // revenue rollup — it prints per consuming branch (pair-join a/b
    // sides + tie rollup; AQE reuses). Everything after runs on the
    // <= |prios|*|months| grid: S agg, tie fold, Sen median window,
    // the two result joins + 5-row sort (measured 9 textual in scale
    // mode; default broadcast planning prints the rollup once more on
    // the pair-join branch — 10 textual)
    "q267_trend_audit" -> 10,
    // q268 (r17 session 2): ONE O⋈L join — the four (o_old, l_old)
    // delta terms are a disjoint partition of the recompute join this
    // query must pay anyway, so they fold into conditional sums over it
    // (was five separate fact-fact branches, measured 9). The join
    // shuffles on o_orderkey — the co-bucket key (exchange-free on
    // bucketed storage) — plus the |nations| rollup; dims broadcast
    // (measured 2).
    "q268_ivm_delta" -> 2,
    // q269 (r17): the |Q|·n sample cross rides the scan (broadcast
    // queries); the qid rank window + the (qid, d) rank window after
    // the ×4 dim explode each shuffle the SAMPLE relation (it prints
    // per consuming branch: hits rollup, tau top-set, re-rank window);
    // the tau pair join broadcasts the |Q|·4·10 top-set; 4-key folds +
    // result join + 4-row sort (measured 8 textual, all sample-scale)
    "q269_mrl_fidelity" -> 8,
    // q270 (r17): ONE corpus-scale exchange — the (bin) rollup onto
    // <= 16 keys (prints per consuming branch: prefix window, interval
    // grid, the i-list, the result join; AQE reuses). The minimax fit's
    // two folds + result join + 16-row sort all ride the bin domain
    // (measured 6 textual)
    "q270_isotonic_calibration" -> 6,
    // q271 (r17): structurally TWO corpus-scale exchanges — the (o, p)
    // basket distinct and the o-keyed pair self-join (the co-bucket
    // key) — but the 4-stage funnel union re-prints that lineage under
    // every stage (items ×~12, pair agg ×3, plus the candidate-bounded
    // lattice/closure/verify joins and 4-row sort); AQE reuses the
    // repeated subtrees at runtime (measured 36 textual)
    "q271_apriori_funnel" -> 13,
    // q272 (r17): pool + pairwise grid + per-round selections run on
    // CHECKPOINTED bounded relations outside this plan (q263's loop
    // discipline — uncut the 4 unrolled rounds printed 145 textual
    // exchanges, cut 1); the final plan is the 64-row sort (measured 1)
    "q272_mmr_rerank" -> 1,
    // q273 (r17): the ONE corpus-scale exchange is the per-user rollup
    // (prints per consuming branch: exact-F2 fold and the estimator
    // stream; the ×64 explode rides the |users| relation); then the
    // 64-key Z fold, 8-key group fold, the 8-row median window's
    // single-partition exchange, result joins + 8-row sort (measured 9
    // textual)
    "q273_ams_f2" -> 9,
    // q274 (r17): structurally FOUR corpus-scale exchanges — the
    // source-keyed rank window (the per-source order statistic IS the
    // semantics), the pooled len histogram, the (source, len) before-
    // histogram, and the RangeJoin bucket shuffle of the rank pick —
    // plus grid-scale ECDF windows/folds; the 6-relation result
    // assembly re-prints the shared scans textually and AQE reuses
    // (measured 25 textual)
    "q274_quantile_norm" -> 25,
    // q275 (r17): the sample path is TakeOrderedAndProject (k-bounded,
    // NO corpus exchange); the two textual shuffles are the per-source
    // exact-rollup audit branch and the k-row sample rollup (measured 2)
    "q275_priority_sample" -> 2,
    // q276 (r17): ONE corpus-scale shingle explode collapsing onto
    // (sh, source) — it prints on both the census and per-source-types
    // branches — then the shingle census agg; the rest are |sources|-
    // bounded rollups, two 1-row scalars, assembly joins + sort
    // (measured 10 textual)
    "q276_source_ablation" -> 10,
    // q277 (r17): the labeled-pair relation (pairStats band join +
    // shingle-arrays joins + attr joins) prints on the m/u-count branch,
    // the scoring branch and the score-min branch; all pair work is
    // candidate-bounded, everything else is 1-row scalars + the band
    // rollup (measured 9 textual; 11 with the session pair cache off)
    "q277_linkage_score" -> 11,
    // q278 (r17): ONE corpus-scale exchange — the (source, fanout-group)
    // level-1 rollup — printing on the pristine-tree and tamper-census
    // branches; levels 2/3, the census and the result join + sort are
    // group-domain-bounded (measured 6 textual)
    "q278_merkle_manifest" -> 6,
    // q279 (r17): the 4-scheme (scheme, key) block rollup is the ONE
    // corpus-scale exchange; it prints on the block-histogram branch and
    // twice more under the truth-capture joins (ka/kb sides), the truth
    // relation reprints the pairStats chain, plus the scheme rollup,
    // scalar aggs and 4-row assembly + sort (measured 12 textual)
    "q279_blocking_bench" -> 12,
    // q280 (r17): the corpus-scale work is two source-keyed window ranks
    // (median, conformal radius) + the test rollup on the SAME source
    // key; the cal chain reprints under the med/qhat/test/assembly
    // branches (AQE reuses at runtime), med/qhat/counts are |sources|-
    // row broadcasts (measured 15 textual)
    "q280_conformal_coverage" -> 4,
    // q281 (r17): sample-bounded by construction — the (pair, j)
    // projection rollup, the k-arm prefix rollup, the 4-row k rollup +
    // sort; the sign matrix and sample sides broadcast (measured 4
    // textual)
    "q281_jl_distortion" -> 4,
    // q282 (r17): K=4 unrolled rounds — each round's radius agg prints a
    // single-partition exchange; picks are TakeOrderedAndProject, per-
    // round work is one broadcast onto the O(n) distance relation
    // (measured 4 textual)
    "q282_kcenter_greedy" -> 4,
    // q283 (r17): ONE corpus-scale exchange — the value-cell rollup —
    // printing under the histogram/cum, bucket-summary, truth and
    // domain-scalar branches; everything downstream rides the bounded
    // cell domain + |preds| grids (measured 11 textual)
    "q283_selectivity_audit" -> 11,
    // q285 (r17): q276's corpus-scale (shingle, source) census + caps
    // rollup; the plan windows and budget scalar ride the |sources|
    // relation (measured 7 textual)
    "q285_budget_mix" -> 7,
    // q286 (r17): the component relation (jaccard pipeline + label
    // propagation) reprints under both policy picks, the member-shingle
    // explode and the totals branches — all candidate-bounded; the
    // result is a 2-row policy relation (measured 14 textual)
    "q286_rep_selection" -> 14,
    // q287 (r17): ONE corpus-scale exchange — the (column, value)
    // profile rollup off the 6-arm map-side explode — printing on the
    // modal-pick and summary branches; per-column folds ride the
    // distinct-value relations + 6-row assembly (measured 5 textual)
    "q287_column_profile" -> 3,
    // q289 (r17): the customer-revenue rollup is the ONE corpus-scale
    // exchange; it reprints under the global-scalar, group-rollup,
    // per-group-terms and totals branches (AQE reuses), everything
    // downstream |nations|- or 1-row-bounded (measured 18 textual)
    "q289_theil_decomp" -> 18,
    // q256 (r17): the bucket-keyed relation prints once per join side
    // and the two cosine rank windows share one qid exchange per branch
    // (truth is the declared |Q|·n broadcast sample cross, retrieved is
    // q42's candidate-bounded bucket join) + candidate distinct +
    // per-query rollups + the left-join assembly + sort — every exchange
    // is candidate- or |Q|-bounded (measured 10)
    "q256_retrieval_quality" -> 10,
    // q259 (r17): tf/cf/totals aggs off ONE exploded token stream (print
    // per consuming branch, AQE reuses — q98's class) + the candidate
    // distinct + the per-doc rollup; the |Q|-term grid and the scalar
    // totals broadcast; top-20 is TakeOrderedAndProject (measured 5)
    "q259_ql_dirichlet" -> 5,
    // q257 (r17): per-order max-ship agg (the co-bucket key) → week
    // histogram (day-domain, partial map-side) → the single-partition
    // exchange for the week-domain cumulative (value-domain-bounded,
    // q136's class) → 1-row totals agg (broadcast back) → sort
    // (measured 5)
    "q257_km_survival" -> 5,
    // q258 (r17): ONE corpus-scale source-moments rollup; both
    // apportionment windows and the remainder rank ride the |sources|
    // relation on one single-partition exchange (measured 2)
    "q258_neyman_allocation" -> 2,
    // q260 (r17): ONE user_id shuffle carries the lag/flag window, the
    // cumulative run-id, the (user, run) rollup (key subset — no
    // re-exchange) and the interval-closing lead; plus the output sort
    // (measured 2)
    "q260_scd2_intervals" -> 2,
    // q255 (r17): the ONE corpus-scale (wk, v) value histogram prints
    // per consuming branch — stats, the p50 cumulative/pick chain, the
    // p95 chain, each with its own n_events totals reprint (q224/q231's
    // AQE-reuse class; every branch after the histogram is value-domain-
    // scale) — plus the day-sketch agg (partial-aggregable KLL buffers),
    // the ≤7-sketch week merge, and the output sort (measured 13)
    "q255_kll_quantiles" -> 9,
    // q253 (r16 wave 42): the ONE corpus-scale l_orderkey rollup (the
    // co-bucket key; its countDistinct plans two-phase) + the 4-row
    // class rollup + sort (measured 4)
    "q253_line_sequence" -> 4,
    // q235 (r16 wave 26): the ONE corpus-scale (source, len) histogram
    // prints per consuming branch (the windowed threshold-pick branch,
    // the heavy-mass re-fold, the picks broadcast back) — AQE reuses it
    // (q231/q224's class); every branch after the histogram is
    // length-domain-scale (measured 7)
    "q235_byte_percentiles" -> 7,
    // q234 (r16 wave 25): the ONE corpus-scale (user, day) distinct
    // prints once per consuming branch (DAU agg, the ×7-explode WAU
    // distinct) — AQE reuses it at runtime (q224's class); the WAU
    // distinct, both day rollups and the day join are all
    // |users·days|- or |days|-domain-scale (measured 6)
    "q234_rolling_actives" -> 6,
    // q230 (r16 wave 24): the NOT IN audit's two |part|-scale brand
    // rollups (stale + totals), the scalar-cutoff subquery's single-row
    // agg, the outer-join assembly and the sort — every exchange is
    // dimension-scale (≤|part| rows); the NAAJ inner side broadcasts
    "q230_stale_parts" -> 5,
    // q231 (r16 wave 24): the ONE corpus-scale (source, len) histogram
    // prints once per consuming branch (median cumulative window, the
    // deviation regroup, the MAD window, the final census + sort) —
    // AQE reuses the identical exchanges at runtime (q224/q215's
    // class); every branch after the histogram is length-domain-scale
    // (measured 11)
    "q231_robust_outliers" -> 11,
    // q224 (r16 wave 17): the (priority, lead) histogram chain — the
    // co-bucket-keyed lineitem⋈orders join + day-domain agg — prints
    // once per consuming branch (stats, the cumulative window, the two
    // rank picks, the final stats⋈p50⋈p95 assembly); AQE reuses the
    // identical exchanges at runtime (q215/q172's class); every branch
    // after the histogram is ≤|priority|·|day domain| rows (measured 11)
    "q224_lead_time" -> 7,
    // q228 (r16): q211's pair relations (assignment argmin agg, the ADC
    // (qid, vec) rollup, the broadcast sample cross) + the two per-query
    // rank windows sharing one qid exchange + the |Q|-row rollup — all
    // sample- or corpus-linear (measured 5)
    "q228_adc_calibration" -> 5,
    // q173: (nation, supplier) fact pre-agg (the one corpus-scale
    // shuffle; supplier and nation dims broadcast) → |suppliers| rollup
    // → sort
    "q173_supplier_hhi" -> 3,
    // r15 fourth wave, measured textual counts:
    // q174: the shared cellTop2 relation (cell-keyed self-join + top-2
    // window + pivot agg — q170's chain exactly) → |cells| rollup → sort
    "q174_intrinsic_dim" -> 5,
    // q175: q153's combo agg with TWO distincts (users, sensitive bands)
    // — the Expand-based multi-distinct rewrite adds a phase — → |types|
    // rollup → sort; combos bounded by |types|·24·|bands|
    "q175_l_diversity" -> 5,
    // q176: six relationship branches — five dim parents broadcast (their
    // probes cost no exchange), the one fact-fact check (lineitem→orders)
    // shuffles both sides on the orderkey, and each branch's single-row
    // conditional agg is a single-partition exchange; every one is
    // count- or dim-scale
    "q176_fk_audit" -> 12,
    // q177: (source, prefix) agg (partial map-side; the one corpus-scale
    // shuffle) → source-partitioned total + rank windows (prefix-type-
    // scale, share the exchange) → sort
    "q177_top_prefixes" -> 4,
    // q178: (user, type) count agg → user-keyed total window → per-user
    // entropy rollup (shares the user exchange) → histogram agg → sort
    "q178_session_entropy" -> 5,
    // q179: map-side regexp length arithmetic → |source| rollup → sort
    "q179_char_classes" -> 2,
    // q180: (band, sig) bucket agg (partial map-side) → |bands| rollup
    // → sort
    "q180_lsh_occupancy" -> 3,
    // r15 fifth wave, measured textual counts:
    // q181: member/probe hash distincts + the member-side anti-join +
    // (cfg, pos) bit-table distinct + the probe-position semi-join +
    // per-probe verdict agg + per-cfg rollups + the single-row
    // member/probe count broadcasts (printed per consuming branch, AQE
    // reuses) + sort; every exchange is hash-, Σm- or k·|probes|-bounded
    "q181_bloom_calibration" -> 14,
    // q182: four branches, each a corpus-scale key count (partial
    // map-side) + a single-partition rollup (exact percentile is a
    // single-phase agg over the key table) + the union sort
    "q182_join_skew" -> 8,
    // q183: q79's plan exactly (content-hash window + tiny component
    // join + source rollup + sort) with char sums riding the rollup
    "q183_dedup_bytes" -> 5,
    // q184: single-row span agg (broadcast back) + ×3 cutoff explode on
    // the scan + ONE (user, cutoff) conditional agg + (cutoff, type)
    // rollup + the share window (cutoff-partitioned, ≤ 3·|types| rows)
    // + sort
    "q184_pit_snapshot" -> 5,
    // q185: the window sweep is map-side list arithmetic; |source|
    // rollup → sort
    "q185_mattr" -> 2,
    // q186: doc-scale source rank window → OLS rollup → sort
    "q186_length_tail" -> 2,
    // r15 sixth wave, measured textual counts:
    // q187: three (K, hash) window aggs (one per union branch, each
    // partial map-side — the fused single-explode draft lost the Time
    // A/B 2x, see the scaladoc) + the repeated-set semi-join + the dup
    // rollup (countDistinct two-phase) + totals branch + |K|-row join
    // + sort
    "q187_window_k_sweep" -> 4,
    // q188: q62's component machinery (loop outside the plan, q147's
    // class) + the provenance join + origin self-join + matrix rollup
    // (countDistinct two-phase) + sort — all component-bounded
    "q188_copy_matrix" -> 4,
    // q189: ONE dataset-keyed rank window (q85's), ×3 keep explode on
    // surviving rows, 3-row rollup (countDistinct two-phase) + sort
    "q189_retention_sweep" -> 3).withDefaultValue(3)

  // `stores` mode: the STORE-BACKED plans (the bench session's actual
  // shapes — the default/scale modes audit only conf-off derived plans).
  // Per consumer: its store-backed shuffle budget with a shuffle-by-
  // shuffle justification; `storeCorpusFree` lists the consumers whose
  // plan must contain NO corpus scan at all (the whole point of their
  // store path — the leakage trio still scans the 10% eval slices by
  // design, and q121's rarity score re-joins the token stream).
  private val storeExchangeBudget: Map[String, Int] = Map(
    // vocab-scale store read → corpus token re-join → doc rollup → sort
    "q121_token_rarity" -> 4,
    // store read (chain count-merge agg) → sketch agg → probe join →
    // per-token min agg → sort (the derived q130 chain minus the corpus
    // token agg, plus the chain merge)
    "q130_cms_calibration" -> 5,
    // chain merge agg → histogram agg → √-bounded cumulative window →
    // totals (per branch, AQE reuses) → sort
    "q136_vocab_coverage" -> 5,
    // chain merge agg → w1 marginal window → sort
    "q77_bigram_lm" -> 3,
    // chain merge agg → (w1,w2) doc-side join → per-doc agg → source
    // rollup → sort (the corpus side still explodes pairs by design —
    // rarity is per-document; broadcasts absorb the narrow side)
    "q97_rare_bigrams" -> 4,
    // chain merge agg (per consuming branch; AQE reuses) → marginal aggs
    // + joins → top-50
    "q139_pmi" -> 7,
    // chain merge agg (prints per consuming branch; AQE reuses) → w1
    // marginal window → doc-side (w1,w2) join → per-doc agg (prints per
    // branch: cutoff agg AND classify probe) → |lang|-row percentile
    // cutoffs (broadcast back) → (lang,bin) rollup → sort — 9 textual;
    // the corpus side still explodes doc bigrams by design (perplexity
    // is per-document)
    "q151_lm_ppl_bins" -> 9,
    // chain merge agg → w1 marginal window → per-w1 entropy agg +
    // single-row total (broadcast back); top-30 TakeOrdered — zero
    // corpus (the pair table IS the input)
    "q159_context_entropy" -> 4,
    // stored train-window read (chain merge) + eval h-keyed membership agg
    // + attribution probe + split rollups + assembly join + sort
    "q120_split_leakage" -> 7,
    // stored read (chain merge prints per consuming branch; AQE reuses)
    // → per-wh source sets → eval spread join → (split, source) rollup +
    // totals → sort
    "q143_leakage_by_source" -> 7,
    // stored read → df agg → eval distinct join → split rollup → sort;
    // n_train is a marker METADATA read (no scan at all)
    "q146_leak_severity" -> 5,
    // RAW chain read (additive/distinct aggregates need no merge — the
    // two consuming branches would each pay it) → global occurrence agg
    // → attribution join → source rollup (countDistinct two-phase) →
    // sort — ZERO corpus, ZERO chain-merge shuffles (spec-pinned)
    "q113_substring_windows" -> 4,
    // chain merge agg → (wh, source) rollup → membership spread+rollup →
    // sort (collapsed shapes share exchanges) — ZERO corpus
    "q122_window_novelty" -> 3,
    // stored hash/sig/window sets replace the base derivations; the
    // arriving batch still scans (it is the input) — batch-keyed joins
    // against the store views + classification + rollup
    "q107_delta_dedup" -> 5,
    // stored assignment read replaces the quantizer derivation; probe
    // machinery unchanged (centroid agg → scoring → rank/top-k windows →
    // sort)
    // NO default: stores mode audits exactly this key set (auditSet
    // filters on membership), so a defaulted budget could never apply —
    // it would only mislead a reader into thinking unlisted queries are
    // audited here
    "q74_ivf_multiprobe" -> 5,
    // chain merge agg (prints per consuming branch: left agg, right agg,
    // |types| total — AQE reuses) → vocab-bounded full-outer token join;
    // top-30 TakeOrdered — zero corpus (the pair table IS the input)
    "q164_kn_continuation" -> 6,
    // stored hash-set read replaces the base-corpus member derivation
    // (chain read prints per consuming branch: anti-join side + bit table
    // + n_members count — AQE reuses); the incoming batch still scans (it
    // is the input) — probe distinct + anti-join + member/probe position
    // explodes + (cfg,pos) bit distinct + semi join + per-probe verdict
    // agg + fp/bit-count/n rollups + the 3-row assembly joins + sort
    "q181_bloom_calibration" -> 14,
    // stored centroid read replaces the centroid derivation; the
    // exploded corpus view still scans (it is the input) — per-vector
    // own-cell fold → label outlier window (rollup reuses) → sort
    "q191_cell_outliers" -> 3,
    // stored centroid read replaces the derivation on BOTH the scatter
    // and the gap-grid sides; the per-vector fold's subtree still prints
    // per consuming branch (q193's default-mode note) minus the centroid
    // aggs
    "q193_davies_bouldin" -> 9,
    // stored day-sketch ledger read replaces the corpus sketch agg; the
    // exact audit's (week, user) distinct still scans (it is the
    // verification input) — week union agg + the exact distinct's
    // two-phase + sort (the week join rides the union agg's exchange;
    // measured 4 — r16 pinned a slack 5 and its default-map comment was
    // the accurate one)
    "q252_hll_rollup" -> 4,
    // chain merge agg → w1 marginal window → ONE doc-keyed exchange
    // shared by the rank window and the per-doc rollup (the (w1,w2)
    // join broadcasts the vocab side); TakeOrdered — the corpus side
    // still explodes doc bigrams by design (the score is per-document)
    // — q151's stores class (measured 3)
    "q264_min_k_prob" -> 3,
    // stored day-sketch ledger read replaces the corpus KLL agg; the
    // exact nearest-rank audit still scans (it is the verification
    // input) — the (wk, v) histogram chain prints per consuming branch
    // (q255's default-mode note) + the week merge + sort (measured 12)
    "q255_kll_quantiles" -> 12,
    // the DSv2 snapshot read (pinned v=1, driver-materialized catalog —
    // metadata-scale by store contract) replaces the documents-side base
    // derivation; the change batch still scans (it is the input) — ONE
    // dataset_key window shuffle + the output sort (measured 2)
    "q68_dataset_upsert" -> 2)
  private val storeCorpusFree =
    Set("q113_substring_windows", "q122_window_novelty", "q159_context_entropy",
      "q164_kn_continuation")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // `scale` mode: disable AUTO broadcasts (tiny-SF accidents that hide
    // the cluster-scale shape) while explicit broadcast() hints — the
    // deliberate dim/query-set broadcasts — still apply. Budgets are
    // calibrated for default mode, so scale mode reports shuffle counts
    // without failing them; the structural checks (cartesian, unpushed
    // scan filter, unpartitioned window) still hard-warn.
    val scaleMode = args.drop(1).contains("scale")
    val storesMode = args.drop(1).contains("stores")
    val bucketedMode = args.drop(1).contains("bucketed")
    // the combination would SILENTLY compose into a stores run whose
    // budget/broadcast checks are all gated off by scaleMode — a run that
    // looks like an audit while checking almost nothing; pick one
    require(Seq(scaleMode, storesMode, bucketedMode).count(identity) <= 1,
      "scale, stores and bucketed are separate audit modes — run each on its own")
    // provisioned under tmp and reclaimed after spark.stop() — same
    // no-leaked-store-set hygiene as Bench (r13 advice)
    lazy val storesTmp =
      java.nio.file.Files.createTempDirectory("graft_planaudit_stores").toString
    // bucketed mode also turns AUTO broadcasts off (scale-mode parity): at
    // 100 TB neither fact side broadcasts, and a tiny-SF auto-broadcast
    // would hide the very orderkey exchange whose elimination this mode
    // exists to pin
    val spark = Session(4, Map("spark.sql.autoBroadcastJoinThreshold" ->
      (if (scaleMode || bucketedMode) "-1" else "10485760")), logLevel = "ERROR")
    // `bucketed` mode (r16 verdict #1): prove the six-times-claimed
    // "exchange-free on bucketed storage" — provision bucketBy-written
    // lineitem/orders, then pin that each target query's ORDERKEY
    // exchanges (the fact-fact join spine / per-order rollup) exist on
    // the plain path and vanish ENTIRELY on the bucketed path, with
    // answers identical row-for-row.
    if (bucketedMode) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_planaudit_bucketed").toString
      Tables.provisionBucketed(spark, sfDir, tmp, buckets = 4)
      val targets = Seq(
        "q176_fk_audit", "q208_order_reconcile", "q224_lead_time",
        "q245_order_backlog", "q253_line_sequence",
        // the remaining SURVEY claimants: q214's two-fact orderkey spine,
        // and the user_id-bucketed EVENTS claims (q134's lag window,
        // q119's first-touch agg + user-keyed rejoin)
        "q214_nation_trade", "q134_event_gaps", "q119_cohort_retention")
      // q176's shared FK-check helper aliases the join keys to ck/pk
      // before joining; with the five dim branches broadcast (explicit
      // hints), the only ck/pk exchanges in its plan ARE the fact-fact
      // orderkey spine
      val spineOf = Map(
        "q176_fk_audit" -> """Exchange hashpartitioning\([^)]*(orderkey|ck#|pk#)""".r,
        "q134_event_gaps" -> """Exchange hashpartitioning\([^)]*user_id""".r,
        "q119_cohort_retention" -> """Exchange hashpartitioning\([^)]*user_id""".r
      ).withDefaultValue("""Exchange hashpartitioning\([^)]*orderkey""".r)
      // q176's ck/pk pattern also matches the five dim-parent distinct()
      // aggregates (|nation|/|part|/|supplier|/|customer|-scale — their
      // PROBES broadcast, the tiny distinct itself still shuffles and
      // legitimately stays at any scale). The fact-fact spine is the
      // delta: lineitem's ck exchange + orders' pk-distinct exchange,
      // both gone on bucketed storage.
      val residualAllowed = Map("q176_fk_audit" -> 5).withDefaultValue(0)
      var warns = 0
      targets.foreach { name =>
        val spine = spineOf(name)
        val fn = SparkEntry.queries(name)
        spark.conf.set("graft.bucketed", "false")
        val plainDf = fn(spark, sfDir)
        val plainPlan = plainDf.queryExecution.executedPlan.toString
        val plainRows = plainDf.collect().map(_.toString).sorted.toSeq
        spark.conf.set("graft.bucketed", "true")
        val bDf = fn(spark, sfDir)
        val bPlan = bDf.queryExecution.executedPlan.toString
        val bRows = bDf.collect().map(_.toString).sorted.toSeq
        val plainSpine = spine.findAllIn(plainPlan).length
        val bSpine = spine.findAllIn(bPlan).length
        val issues = Seq.newBuilder[String]
        if (plainSpine <= residualAllowed(name))
          issues += "plain-path-has-no-orderkey-exchange-to-eliminate"
        if (bSpine != residualAllowed(name))
          issues += s"bucketed-path-spine-exchanges=$bSpine!=${residualAllowed(name)}"
        if (!bPlan.contains("lineitem_b") && !bPlan.contains("orders_b") &&
          !bPlan.contains("events_b"))
          issues += "bucketed-tables-not-read"
        if (plainRows != bRows) issues += "answers-diverge"
        val i = issues.result()
        val tag = if (i.isEmpty) "OK  " else { warns += 1; "WARN" }
        println(f"$tag $name%-26s spine: plain=$plainSpine bucketed=$bSpine ${i.mkString(", ")}")
      }
      spark.conf.set("graft.bucketed", "false")
      println(s"${if (warns == 0) "ALL OK" else s"$warns warnings"}")
      spark.stop()
      Util.deleteRecursively(tmp)
      return
    }
    // stores mode: provision the full artifact set at the audit SF and
    // point every consumer conf at it — the audited plans are then the
    // bench session's actual store-backed shapes
    if (storesMode)
      StoreSet.provision(spark, sfDir, storesTmp).foreach(s => spark.conf.set(s.conf, s.path))
    val auditSet =
      if (storesMode) SparkEntry.queries.filter(q => storeExchangeBudget.contains(q._1))
      else SparkEntry.queries
    var warns = 0
    auditSet.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length - "BroadcastExchange".r.findAllIn(plan).length
      val issues = Seq.newBuilder[String]
      val budget = if (storesMode) storeExchangeBudget else exchangeBudget
      if (!scaleMode && exchanges > budget(name))
        issues += s"shuffles=$exchanges>budget=${budget(name)}"
      if (!scaleMode && !storesMode && expectBroadcast(name) && !plan.contains("BroadcastExchange"))
        issues += "no-broadcast"
      if (storesMode && !plan.contains("v="))
        issues += "no-store-read"
      if (storesMode && storeCorpusFree(name) && plan.contains("documents.parquet"))
        issues += "corpus-scan-in-store-path"
      if (!allowCross(name) && plan.contains("Cross")) issues += "cartesian"
      // flag only a Filter whose direct child scan pushed nothing — a filter
      // on a window/join-computed column legitimately can't push down
      val lines = plan.linesIterator.toVector
      val badPush = lines.zipWithIndex.exists { case (l, i) =>
        l.contains("Filter (") && lines.drop(i + 1).headOption.exists(n =>
          n.contains("FileScan") && n.contains("PushedFilters: []"))
      }
      // stores mode: the leakage trio's eval-slice filter is a computed
      // md5 bucket directly above the documents scan — inherently
      // unpushable (q103's engine-stable split is the point); the train
      // side reads the store, only the 10% eval share scans at all
      val storesUnpushed = storesMode && Set(
        "q120_split_leakage", "q143_leakage_by_source", "q146_leak_severity")(name)
      if (badPush && !allowUnpushed(name) && !storesUnpushed)
        issues += "unpushed-scan-filter"
      // an unpartitioned window serializes the whole relation through one
      // task — only legal over a provably tiny relation (q83's per-batch
      // maxima: |batches| rows, bounded by stream duration, not volume)
      val globalWindow = plan.linesIterator.exists(l =>
        l.contains("Window ") && l.contains("], [], ["))
      if (globalWindow && !allowGlobalWindow(name)) issues += "unpartitioned-window"
      val tag = { val i = issues.result(); if (i.isEmpty) "OK  " else { warns += 1; "WARN" } }
      println(f"$tag $name%-26s shuffles=$exchanges%-2d ${issues.result().mkString(", ")}")
    }
    // stores mode, second pass: the BENCH session's actual plans (session
    // cache on, views primed). Exchange budgets don't apply — the cached
    // views print their build lineage inside InMemoryRelation, inflating
    // textual counts for work that runs zero times — so this pass checks
    // the structural invariants only: every consumer reads a store or a
    // materialized view, no cartesians, and the two fully store-served
    // queries still touch no corpus even through the cached views.
    if (storesMode) {
      spark.conf.set("graft.lsh.cache", "true")
      val t = Tables(spark, sfDir)
      graft.operators.Dedup.primePairCache(t)
      graft.operators.Dedup.primeLeakEval(t)
      graft.operators.Dedup.primeStoreViews(t)
      auditSet.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val issues = Seq.newBuilder[String]
        if (!plan.contains("v=") && !plan.contains("InMemoryTableScan"))
          issues += "no-store-or-view-read"
        if (!allowCross(name) && plan.contains("Cross")) issues += "cartesian"
        if (storeCorpusFree(name) && plan.contains("documents.parquet"))
          issues += "corpus-scan-in-store-path"
        val i = issues.result()
        val tag = if (i.isEmpty) "OK  " else { warns += 1; "WARN" }
        println(f"$tag $name%-26s [cached] ${i.mkString(", ")}")
      }
      spark.conf.unset("graft.lsh.cache")
      graft.operators.Dedup.clearPairCache()
    }
    println(s"${if (warns == 0) "ALL OK" else s"$warns warnings"}")
    spark.stop()
    if (storesMode) Util.deleteRecursively(storesTmp)
  }
}
