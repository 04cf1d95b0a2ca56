"""Generate PLANS.md: formatted physical plans for the headline queries,
annotated with the scale properties each plan is supposed to exhibit.

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rag_application_with_vectordb_spark.plans.registry import load_all  # noqa: E402
from rag_application_with_vectordb_spark.session import get_spark  # noqa: E402

#: query → the plan property worth reading the explain for. Queries not
#: listed here but in the bench headline set fall back to their registry
#: doc string — every headline query gets a PLANS.md section either way.
ANNOTATED = {
    "knn_topk": "TakeOrderedAndProject (per-partition top-k heaps, no global "
    "sort); scan prunes to (vec_id, embedding); no Python stage in scoring.",
    "knn_batch": "BroadcastNestedLoopJoin — the corpus never shuffles; only "
    "scored (query_id, vec_id, sim) triples move for the per-query window. "
    "Above TWO_STAGE_MIN_PARTITIONS corpus partitions, knn_join inserts a "
    "per-partition partial top-k so no single reducer sees a full query "
    "scan (auto; plan-asserted in tests/test_knn.py).",
    "bench_knn_1m": "Zero-I/O generated corpus spread across "
    "defaultParallelism partitions; the two stacked Projects on the "
    "probe side are deliberate — the per-row generator seed is "
    "materialized BEFORE the array transform so the (interpreted) HOF "
    "lambda pays one bound lookup per element instead of re-evaluating "
    "the row term 64x; TakeOrderedAndProject caps movement at 10 "
    "rows/partition.",
    "ann_lsh_topk": "Per-row bucket expression (no shuffle to bucket), "
    "broadcast query side, bucket equi-join replaces the cross join — "
    "candidates shrink ~2^n_planes.",
    "ann_ivf_topk": "Training iterations touch only k×dim broadcast "
    "centroids + one (centroid,dim) agg each; the probe join hits "
    "inverted lists keyed by centroid_id (partition-pruned scan at "
    "scale); final per-query window sees only probed candidates.",
    "rag_e2e_retrieval": "Chunker Generate + constant-folded query "
    "embedding (literal question) → per-row dot product; "
    "TakeOrderedAndProject top-5.",
    "embed_hash_components": "Pure-expression embedder: md5-fold per "
    "component inside codegen, no Python stage, no shuffle beyond the "
    "parallelism spread.",
    "chunk_sliding_window": "Generate (posexplode) with zero Exchanges — the "
    "chunker is embarrassingly parallel.",
    "q1_pricing_summary": "Filter pushed to parquet (PushedFilters on "
    "l_shipdate), ReadSchema pruned to 7 of 11 columns, partial aggregate "
    "before the exchange.",
    "q3_top_orders": "BroadcastHashJoin for the filtered customer dim, "
    "TakeOrderedAndProject for the top-10.",
    "q5_regional_revenue": "All five dims broadcast; the lineitem fact is "
    "scanned once and exchanged once for the final agg.",
    "q7_nation_pair_revenue": "Fact-out rewrite: dims broadcast onto the "
    "fact scan (never lineitem as a broadcast build side — guarded by "
    "tests/test_plans.py); single fact exchange.",
    "q9_product_profit": "part filter pushed to its scan; dims broadcast; "
    "one fact shuffle into the (nation, year) agg.",
    "q18_large_volume_customers": "Single lineitem scan: per-order "
    "aggregate once, self-threshold via HAVING, then join orders/customer "
    "— no second scan, no correlated subquery.",
    "q21_sole_late_supplier": "EXISTS/NOT-EXISTS pair collapsed into one "
    "per-order aggregate over a single lineitem scan.",
    "window_running_spend": "Keyed window (custkey) with a ROWS frame — "
    "one hash exchange, per-key running sums, no global sort.",
    "topk_parts_per_brand": "Per-group row_number ≤ k — window keyed by "
    "brand, so top-k never concentrates on one reducer.",
    "asof_purchase_to_click": "Union-then-window as-of: one keyed sort "
    "per user instead of an inequality join explosion.",
    "range_join_error_after_purchase": "Bounded-interval equi-bucket "
    "prejoin prunes the inequality predicate's candidate space.",
    "dedup_exact": "One shuffle on the md5 fingerprint; canonical row via "
    "min(doc_id) in the same agg.",
    "dedup_minhash_lsh_pairs": "InMemoryTableScan reuse of the persisted "
    "shingle sets; band bucket join instead of all-pairs.",
    "dedup_simhash_signatures": "32 conditional sums in ONE aggregate — "
    "wide codegen but a single shuffle keyed by doc_id.",
    "dedup_embedding_topk_pairs": "Norms computed once per vector before "
    "the pair join (n norms amortized over n²/2 pairs); "
    "TakeOrderedAndProject caps the output at top-50.",
    "text_quality_scores": "Pure built-in string expressions, no UDF, no "
    "shuffle beyond the parallelism spread.",
    "events_tumbling_hourly": "F.window bucketing is a per-row projection; "
    "one exchange for the per-bucket counts.",
    "events_sessionized": "Single keyed window partition (user_id) feeding "
    "both the lag and the cumulative sum; decimal-exact session sums.",
    "graph_pagerank": "Iterative Pregel shape: deg and the edge⋈outdeg "
    "relation persist once (InMemoryTableScan reuse — without it the "
    "edge-building subtree re-derives per iteration), then each of the 3 "
    "iterations is exactly two shuffles (join on src, inflow agg on dst); "
    "rank vector stays distributed, all arithmetic integer.",
    "dedup_substring_spans": "n-grams shuffle as md5 keys (32 B) — "
    "duplicate decision is one hash groupBy, join-back hash-keyed, "
    "interval union one window per doc_id; no all-pairs, no global sort "
    "(the suffix-array original needs one).",
    "ann_signbits_rerank_topk": "Candidate generation reads two BIGINTs "
    "per vector (bit_count(xor) in codegen — 32× below the fp64 scan); "
    "only the 64-row shortlist per query touches full vectors for the "
    "exact rerank.",
    "sample_weighted_k": "Per-row fixed-point E-S key + "
    "TakeOrderedAndProject: per-partition top-k heaps, k-row merge, no "
    "global sort, no driver state.",
    "dedup_prefix_filter_pairs": "Inverted-index join over PREFIX "
    "postings only (rarest tokens) — posting lists shrink by the "
    "threshold factor, provably lossless at >= t; verification joins "
    "touch candidate pairs only.",
    "graph_triangles": "Degree-oriented wedge enumeration over the "
    "ONCE-checkpointed pair/degree/oriented-edge relations (the "
    "shared-SQL form re-ran the basket self-join per CTE reference); "
    "out-degrees bounded ~sqrt(m) under the orientation, closing edge "
    "via one semi-join to the checkpointed pair list — no OR-join, no "
    "cross product.",
    "events_resample_linear": "Union of grid + events, two IGNORE-NULLS "
    "windows per user (asc/desc) recover bracketing events — no join "
    "against the raw stream; interpolation on exact integer micros.",
    "ann_ivf_append_parity": "Serves from the APPENDED persisted store "
    "(base build + ivf_append of the tail — existing partitions never "
    "rewritten): probe side broadcast, WindowGroupLimit partial top-k "
    "below the single query_id exchange; at scale the store read is a "
    "centroid_id-partition-pruned scan.",
    "ann_ivf_staleness_drift": "Two independent serve paths (stale "
    "appended store vs fresh retrained index) plus the exact anchor — "
    "recall arithmetic is three hash joins on (query_id, vec_id); both "
    "quantizer trainings are k×dim literal expressions, never a corpus "
    "shuffle.",
    "dedup_prefix_filter_pairs_keyed": "The PPJoin prefix cut with NO "
    "vocabulary-wide window: each doc ranks its postings by the joined "
    "(df, shingle) key inside the doc_id-partitioned window — zero "
    "SinglePartition exchanges anywhere (plan-asserted).",
    "stream_ingest_index_twin": "chunk Generate → md5-fold embedding → "
    "literal-centroid argmax → per-list agg, all in codegen — the exact "
    "per-micro-batch dataflow the streaming ingest runs via ivf_append; "
    "no Python stage, no cross join.",
    "decontaminate_train_docs": "Train grams × eval grams as a hash-keyed "
    "LEFT SEMI join (grams travel as md5 keys, eval side distinct-"
    "reduced) — contamination checking at corpus scale without an "
    "all-pairs document comparison.",
    "feature_winsorize_prices": "Nearest-rank bounds from the per-flag "
    "distinct-price HISTOGRAM cumulative (x@rank k = MIN x with "
    "cum >= k — r10; the old per-group rank window sorted ~N/3 fact "
    "rows per task, the shape that heap-OOMed percentile_exact in the "
    "sf10 sweep), then one broadcast of 3 bound rows back onto the "
    "fact for the clip + DECIMAL-exact aggregate.",
    "text_tokenize_ids": "Tokenization stage: TakeOrdered 256-row vocab "
    "candidate -> dense ids -> BROADCAST onto the exploded postings -> "
    "per-doc positional reassembly; no vocabulary-wide sort, no Python, "
    "id sequences exact integers.",
    "events_anomaly_rolling_z": "ONE hash exchange on user_id feeding the "
    "trailing-20 ROWS frame; rolling moments are DECIMAL sums (exact, "
    "order-independent) so the windowed z doubles are engine-identical.",
    "cdc_snapshot_diff": "Both snapshot derivations push their filters to "
    "the SAME parquet scan; the diff is a full-outer SortMergeJoin "
    "co-partitioned on o_orderkey (a full-outer can broadcast neither "
    "side) comparing md5 row-hashes — wide payloads never travel, only "
    "key+hash.",
    "scd2_customer_status_history": "Every Window partitions by o_custkey "
    "— one hash exchange feeds the two row_number islands, the run "
    "aggregate, and the lead() validity chain; nothing global-sorts.",
    "incremental_agg_merge": "Two partial-aggregate branches (base/delta "
    "filters both pushed to the scan) full-outer-merged on the month key "
    "— the refresh-from-delta shape: HashAggregate pairs per branch, "
    "never a re-aggregation of unioned raw rows.",
    "er_blocked_name_pairs": "GroupBy canonicalizes names FIRST, so the "
    "quadratic stage runs on distinct names; the self-join shuffles on "
    "the block key (head noun) — no CartesianProduct anywhere in the "
    "plan.",
    "text_nb_confusion": "Training is two aggregates over the exploded "
    "train tokens; the |classes|x|vocab| weight table BROADCASTs onto "
    "the test tokens (fastText serving shape); integer micro-log sums "
    "keep the argmax partition-independent.",
    "multimodal_phash_neardup_pairs": "ArrowEvalPython appears exactly "
    "once (the pHash mapInPandas stage, cached); candidate generation "
    "shuffles on (chunk_idx, chunk_value) — pigeonhole blocking, lossless "
    "at Hamming <= 3 — and verification joins hashes back by id.",
    "zorder_orders_cells": "The Morton zval is a pure map-side integer "
    "expression over the scan (no exchange until the 16-cell aggregate) "
    "— at scale it feeds repartitionByRange before a write so file "
    "min/max stats prune BOTH dimensions.",
    "events_ewma": "One hash exchange on user_id; the trailing-20 "
    "collect_list window feeds a codegen'd fold (aggregate HOF) — the "
    "smoothing recursion runs inside the JVM with zero Python and fixed "
    "fp order.",
    "retrieval_mmr_topk": "The corpus reduces via TakeOrderedAndProject "
    "to 20 cached candidate rows; the pair-sim relation is a broadcast "
    "self-join of those 20; the greedy rerank is driver-side over "
    "constant-bounded rows (serving-time semantics).",
    "knn_filtered_topk": "The metadata predicate reaches the parquet scan "
    "as PushedFilters (In(label), vec_id%2) so cosine never evaluates on "
    "filtered-out rows; TakeOrderedAndProject sees survivors only — "
    "pre-filter semantics, never post-filter.",
    "approx_distinct_hll_det": "One map-side projection to (bucket, rank), "
    "a 64-group MAX (mergeable registers), and exact integer harmonic-sum "
    "arithmetic — the estimate is one fp division at the end, so the "
    "whole sketch value-checks cross-engine.",
    "heavy_hitters_verified": "ArrowEvalPython once (the per-partition MG "
    "sketch, constant memory); the exact pass is a broadcast LEFT SEMI of "
    "the tiny candidate set onto the fact — never a full distinct-key "
    "aggregation.",
    "text_substring_search_trigram": "Doc trigrams explode map-side; "
    "candidates come from a broadcast semi-join on the pattern's trigrams "
    "+ a count filter (posting intersection); the exact contains() runs "
    "on survivors only — the full-scan LIKE exists only in the oracle.",
    "events_cusum_changepoint": "CUSUM's sequential recursion in closed "
    "form: prefix sum minus running min, two chained windows on ONE "
    "(user_id) shuffle; the self-calibration row reduces through a "
    "SinglePartition aggregate and broadcasts back — the fact never "
    "moves twice.",
    "events_acf_daily": "The fact collapses to day grain before any "
    "join; the lag inline table cross-joins the day relation exactly "
    "twice (a per-lag UNION ALL would rescan the fact 2x per lag — "
    "Spark inlines CTEs).",
    "eval_auc_doclang": "Histogram-form Mann-Whitney: one scan "
    "aggregates to per-score counts; the global prefix-sum window "
    "runs over the bounded score DOMAIN, never the raw fact.",
    "approx_distinct_intersect_kmv": "Each side's sketch is a k-row "
    "windowed selection; the intersection joins sketch against sketch "
    "(k rows each) — the raw key sets never meet.",
    "ann_rp_recall": "The ±1 projection matrix enters as literals; the "
    "16 reduced dims are map-side HOF dots — projection adds zero "
    "shuffles on top of the exact-scan recall harness.",
    "feature_corr_matrix": "ONE scan, one single-row co-moment "
    "aggregate (map-side partials); the 6 pair rows unpivot via a "
    "CASE cross-join against an inline descriptor table, never "
    "re-referencing the aggregate.",
    "feature_mi_lang_source": "One pair groupBy builds the contingency "
    "cells; marginals roll up from the CELL table; the nano-unit ln "
    "contribution is map-side arithmetic over broadcast-joined "
    "marginals.",
    "text_phrase_search_positional": "Tokens posexplode once; the "
    "isin() pre-filter prunes to the phrase terms' postings before "
    "any shuffle; a start collecting ALL distinct offsets is a hit — "
    "positional-postings intersection as one aggregation, no LIKE, "
    "no per-term rescan.",
    "events_holt_linear": "The coupled level/trend recursion folds the "
    "ordered trailing-20 window with a two-component array "
    "accumulator — one keyed shuffle, O(20) state per row, fp order "
    "fixed by the fold so results are partitioning-proof.",
    "approx_distinct_diff_kmv": "Below theta each k-row sketch is an "
    "exact membership oracle; the A-not-B probe is an anti join of "
    "sketch against sketch — the raw key sets never meet.",
    "approx_distinct_kmv_cube": "Per-month sketches reduce in one "
    "keyed window pass; the range query merges 12 k-row sketches — "
    "the fact is scanned once to build the cube, never at query time.",
    "incremental_join_merge": "Four signed partial aggregates (base, "
    "fact-delta, retract, re-insert) union and coalesce-add per "
    "segment; the changed-customer replay is a broadcast semi-join, "
    "so refresh cost is O(delta), never O(join history).",
    "split_balance_chi2": "One pair groupBy builds the contingency "
    "cells; marginals roll up from cells; the chi-square contribution "
    "is map-side fixed-point arithmetic over broadcast marginals.",
    "multimodal_crossmodal_topk": "Payload and text query embed into "
    "one shared md5-fold space; serving is the engine's standard "
    "broadcast-query cosine TakeOrderedAndProject — the corpus never "
    "sorts, the query never shuffles.",
    "graph_wcc_twostar": "Each two-star alternation is one groupBy-min "
    "+ one equi-join on the node key, eagerly checkpointed per round "
    "so the driver loop's plan depth stays O(1); round count is "
    "O(log n), not O(component diameter).",
    "reco_item_item_topk": "Item-CF pairing shuffles the DISTINCT "
    "(user, item) relation on user_id once; item-count sides broadcast "
    "onto the pair counts; per-item top-3 is a keyed window over the "
    "pair aggregate, never a global sort; event-type filter pushed to "
    "every scan (plan-asserted).",
    "stats_ks_lang_length": "Group-by-value first: the global-order "
    "ECDF window runs over the DISTINCT length domain, not raw docs "
    "(plan-asserted HashAggregate below the Window); the sup-difference "
    "is exact cross-multiplied BIGINT, divided once after the max.",
    "graph_khop_items": "The events-derived edge list localCheckpoints "
    "once; the 3 unrolled BFS rounds join the materialized RDD "
    "(plan-asserted zero parquet scans) with one node-keyed shuffle "
    "per round.",
    "text_pmi_collocations": "Tokens explode once; bigrams are a "
    "per-row array transform (no self-join); Nu/Nb single-row totals "
    "broadcast back over the bigram counts (plan-asserted BNLJ) and "
    "the top-50 is TakeOrderedAndProject.",
    "stats_bootstrap_mean_ci": "Single-pass Poisson bootstrap: one "
    "scan fans out x100 via Generate explode, replicate aggregates "
    "partial-combine before a 100-row shuffle; keyed-md5 multiplicity "
    "means no RNG state and no resample pass per replicate "
    "(plan-asserted <= 2 scans).",
    "stats_jackknife_se": "Leave-one-out means derive from windowed "
    "totals over the per-month aggregate — exactly one fact scan "
    "(plan-asserted; a tot-CTE here would be inlined into 3 more "
    "scans by Spark).",
    "stats_conformal_interval": "The 5-row train model localCheckpoints "
    "and broadcasts (CTE inlining would rescan orders per consumer); "
    "the calibration pass lands in a checkpointed exact-integer "
    "residual histogram, and the quantile is a two-level histogram "
    "rank-select — cumulative counts over coarse 2^20-micro buckets "
    "(domain-bounded), then a fine pass confined to the one bucket "
    "holding rank k. No window ever sees an unbounded relation "
    "(plan-asserted: zero lazy parquet scans, no row_number).",
    "survival_km_signup_purchase": "One user_id-keyed window pass pins "
    "signup per user; censoring horizon is a map-side MAX scalar "
    "subquery (never a global window over raw events); the KM product "
    "is a BIGINT ln-grid cumulative sum over the distinct-duration "
    "table.",
    "forecast_snaive_mase": "One scan into the day-keyed aggregate "
    "(per-row exact cents before the sum); lag windows run over the "
    "tiny daily series; single-row output.",
    "eval_retrieval_ranking": "50 probes broadcast against ONE corpus "
    "scan (BroadcastNestedLoopJoin, corpus never shuffles); per-query "
    "window over scored triples only; NDCG discounts are literal CASE "
    "arms inside whole-stage codegen — no transcendental, no join "
    "against a weights table.",
    "stats_permutation_test": "The fact collapses to the per-user "
    "grain once; the x200 permutation fan is a map-side explode over "
    "that user-sized relation with partial aggregation before the "
    "200-row shuffle — fact read exactly once.",
    "regress_spend_on_activity": "One user-keyed aggregate + a "
    "6-number co-moment roll-up; the normal-equation arithmetic is a "
    "single projection over one row.",
    "forecast_seasonal_decompose": "Day-grain aggregate first, then "
    "the centered MA window runs over the calendar-sized series (the "
    "single-partition window is bounded by days, not facts); the "
    "7-row day-of-week aggregate ends it.",
    "sketch_ams_f2": "One fact scan fanned x16 by a generator explode "
    "(stateless md5 sign per seed) with map-side partial sums — the "
    "16 BIGINT partials are the only shuffle payload; the exact-F2 "
    "side is one user-keyed aggregate.",
    "audit_column_profile": "Five UNION branches, each scanning ONE "
    "column (ReadSchema prunes to it) with its own distinct "
    "aggregate — no 5-way expand, no row replication.",
    "eval_calibration_bins": "Scalar-subquery min/max broadcast to a "
    "single-pass bin projection; the 10-row bin aggregate is all that "
    "shuffles.",
    "feature_woe_iv": "One hash aggregate on the category (target "
    "indicator folds into SUM(CASE)); totals are a single-row "
    "cross-join broadcast; the gridded ln runs on the category-sized "
    "relation.",
    "feature_hash_buckets": "Stateless per-row md5 bucket/sign — no "
    "vocabulary build, no broadcast; the only shuffle is the final "
    "16-row bucket aggregate (the property that makes the hashing "
    "trick survive unbounded category domains).",
    "audit_l_diversity": "One aggregate on the QI tuple with "
    "COUNT(DISTINCT sensitive) inside; result bounded by the QI "
    "domain, not the fact.",
    "text_distinct_ngram_ratio": "Tokens and bigrams explode once; "
    "the distinct counts shuffle (lang, gram) pairs — the TF-IDF "
    "vocabulary-build shape; ratios are single fp64 divisions of "
    "exact BIGINTs.",
    "eval_calibration_isotonic": "The fact scans once into the 10-row "
    "binned relation; the O(B^3) PAVA minimax (intervals from prefix "
    "sums, min over j>=k, max over i<=k) runs on ~220 interval "
    "tuples — constant cost at any corpus size.",
    "regress_theil_sen": "Fact collapses to 365 calendar rows before "
    "the O(n^2) pair join (~66k rows, constant at any sf); medians "
    "are rank selects over a bounded, documented SinglePartition.",
    "events_top_paths": "Keyed sessionization (lag + cumsum windows "
    "partitioned by user), per-session prefix window, one path "
    "aggregate; top-k is TakeOrdered — the fact never globally sorts.",
    "retrieval_prf_terms": "The corpus tokenizes/explodes once into "
    "the (doc, term) tf relation; the pseudo-relevant set (10 rows), "
    "term lists (3-6 rows) and corpus stats (1 row) are the only "
    "join build sides — broadcast all the way.",
    "retrieval_prf_expanded_topk": "Both retrieval rounds share the "
    "exploded tf relation; per-(doc,term) BM25 contributions land on "
    "the 1e-6 grid before the per-doc BIGINT sum, so the rescore "
    "aggregate shuffles exact integers; final top-10 is TakeOrdered.",
    "cluster_grid_density": "One scan bins points statelessly; cell "
    "counts are the only fact-sized shuffle; adjacency join, "
    "two-star CC, and the roll-up all run on the grid-bounded "
    "dense-cell relation.",
    "retrieval_wand_topk": "One probe of the checkpointed inverted "
    "index materializes the 3-term postings; every WAND stage "
    "(bounds, essential docs, theta, pruning) reuses that "
    "checkpoint — the plan shows InMemory/checkpoint scans, no "
    "re-tokenization; theta's k-th-score is TakeOrdered + MIN, not a "
    "global window; final top-10 is TakeOrderedAndProject.",
    "text_winnow_fingerprints": "Gram explode, combined-key window "
    "MIN, and distinct are ALL keyed by doc_id — no SinglePartition "
    "window anywhere; the per-window argmin is one rowsBetween(-3,0) "
    "frame over (doc, pos).",
    "graph_lpa_communities": "The fact scans once into the "
    "checkpointed edge list; each of the 4 label rounds is "
    "edges-join-labels (shuffle on dst) + vote aggregate + per-src "
    "argmax window — all keyed; each round's label table is "
    "checkpointed so lineage stays flat.",
    "graph_kcore": "12 peel rounds, each one keyed aggregate over the "
    "checkpointed co-purchase edge relation semi-joined against the "
    "shrinking survivor set; the basket self-join runs exactly once. "
    "(The DuckDB oracle needs MATERIALIZED CTEs for the same reason "
    "— un-materialized it re-ran the self-join per round: 410 s -> "
    "15 s at sf1.0.)",
    "text_textrank_keywords": "The corpus tokenizes once; the word "
    "co-occurrence aggregate shuffles on the (wa, wb) pair key; "
    "pagerank_fp persists the graph so each of the 3 iterations is "
    "exactly two keyed shuffles; top-20 is TakeOrdered on the "
    "fixed-point rank.",
    "text_textrank_doc_keywords": "Composite doc|word node ids keep "
    "every walk join and aggregate doc-partitioned; the final top-3 "
    "window partitions by doc_id — token-scale relations shuffle by "
    "key, nothing is global.",
    "weights_raking_ipf": "One fact aggregate to the |lang|x|source| "
    "cell relation (checkpointed); all 3 IPF rounds run on that "
    "constant-size relation with broadcast margin sums — integer "
    "share arithmetic, no fp anywhere in the loop.",
    "feature_quantile_normalize": "Within-source ranks come from a "
    "window PARTITIONED BY source (never a global sort); the "
    "rank->value lookup joins the bounded length-domain cumulative "
    "histogram; fanout is |domain| per doc at worst.",
    "revenue_bridge_weekly": "The fact collapses to (user, week) "
    "grain first; the week-over-week comparison is a self FULL "
    "OUTER JOIN keyed on user_id (never a calendar cross join); the "
    "bridge roll-up shuffles the week key only.",
    "survival_logrank_arms": "One user-keyed shuffle builds "
    "durations; risk sets are two prefix sums over the study-day "
    "duration DOMAIN; per-event-time E/V terms land on the 1e-6 "
    "grid before exact BIGINT sums, so the chi-square is one fixed "
    "fp chain off a 3-integer roll-up.",
    "dedup_winnow_pairs": "The winnowing sketch (not the corpus) is "
    "what joins: distinct (doc, fingerprint) postings, df-capped to "
    "drop boilerplate grams, then a fingerprint-keyed self-join — "
    "the LSH band-join shape with MOSS fingerprints as the bands.",
    "regress_kfold_cv": "ONE user-keyed aggregate produces per-fold "
    "moments; train moments are total-minus-fold subtractions and "
    "the held-out SSE expands algebraically — the plan has a single "
    "fact scan and 5-row arithmetic, no per-fold repasses.",
    "eval_reco_hitrate": "Holdout selection is a user-keyed window "
    "over md5 draws; the co-occurrence matrix and candidate scoring "
    "join on item keys (domain-bounded); the only global numbers "
    "are three COUNT roll-ups.",
    "sketch_cms_join_size": "Both count-min sketches collapse "
    "map-side to 4096 cells before their only shuffle; the exact "
    "comparator is the expensive per-key count join the sketch "
    "exists to avoid — visible side by side in the same plan.",
    "multimodal_scene_changes": "One mapInPandas stage computes "
    "frame intensities AND adjacent deltas per Arrow batch — no "
    "explode + (doc, frame) self-join; output partitioning follows "
    "the input scan.",
    "orders_backlog_daily": "Each order contributes two boundary "
    "rows (+1/-1); the backlog is a prefix sum over the bounded "
    "date domain — the plan never materializes day x order "
    "replication.",
    "freq_itemsets_3": "Apriori shape: candidate triples derive from "
    "the thresholded frequent-pair relation (broadcast both in "
    "candidate gen and verification); the only fact-sized shuffles "
    "are the basket distinct and the pair aggregate — no "
    "all-triples explode anywhere in the plan.",
    "tree_split_gini": "Histogram-first split search: one groupBy on "
    "the feature value, then the threshold scan windows over the "
    "domain-bounded histogram (the single-partition window's input "
    "is <= |distinct values|, never the rows).",
    "geo_radius_pairs": "Cell-blocked spatial join: the 9-offset "
    "expansion is an EXPLODED composite neighbor-cell-key column "
    "(never a VALUES relation — the relational offset form let the "
    "join reorderer plan a CartesianProduct over all pairs), so the "
    "join is a plain cell-key equi-join with the exact distance "
    "predicate as codegen residual on candidates only.",
    "attribution_shapley": "Fact-sized work is one keyed window + "
    "two groupBys; the coalition lattice (16 masks x 4 channels) "
    "joins as constant-bounded relations — the Shapley math never "
    "touches a fact-sized row again.",
    "attribution_markov_removal": "The transition matrix "
    "localCheckpoints once (journey windows run once); each of the "
    "12 value-iteration rounds is a tiny keyed join over the ~30-row "
    "(variant, state) relation — the Pregel lineage rule at "
    "constant size.",
    "graph_betweenness_4src": "Forward BFS rounds and the backward "
    "dependency sweep all operate on (source x node) relations "
    "bounded by 4x the node table; the fact is scanned once into "
    "the checkpointed edge list; exact integer floor divisions keep "
    "every round's output hashable.",
    "classify_nearest_centroid": "Training is one aggregate over the "
    "exploded train dims; the |labels| x dim centroid table "
    "BROADCASTs onto the exploded test dims (BroadcastHashJoin on "
    "j); the argmin is a per-vec window over |labels| rows.",
    "retrieval_lm_dirichlet_topk": "Collection stats are ONE 1-row "
    "aggregate cross-joined back (broadcast); per-doc scoring is "
    "pure codegen'd expressions over the single documents scan; "
    "TakeOrderedAndProject caps movement at 10 rows/partition.",
    "graph_ppr_seed": "Same persisted-graph Pregel plan as "
    "graph_pagerank with restart mass concentrated on the seed; "
    "each iteration is exactly two shuffles (join on src, inflow "
    "agg on dst).",
    "audit_partition_fingerprints": "Map-side row hashing straight "
    "off the scan into a month-keyed XOR aggregate — one shuffle of "
    "(month, 52-bit hash) pairs, no row payload movement.",
    "forecast_holt_winters": "Day-grain collapse is the only "
    "fact-sized shuffle; the prefix-list window and 9-component "
    "array fold run over the calendar-bounded day relation inside "
    "codegen (zero Python).",
    "events_rate_limit_audit": "The two-sided clamp recursion runs as "
    "ONE codegen'd aggregate() fold per user over the sorted encoded "
    "event list — one shuffle to collect, no window state, no "
    "Python; the streaming twin carries the same integers in the "
    "state store.",
    "graph_random_walks": "Each step is one keyed join of the "
    "|nodes|-row walk frontier against the indexed edge relation — "
    "the md5 hop choice is a map-side expression; the fact is "
    "scanned once into the checkpointed edges.",
    "eval_offpolicy_ips": "One user-grain aggregate; the known "
    "uniform logging propensity turns the IPS weights into "
    "constants, so the whole counterfactual estimate is three exact "
    "integer sums.",
    "geo_cell_density": "Map-side integer cell projection straight "
    "off the scan into a <=100-cell aggregate — the sizing pass "
    "that precedes the cell-blocked spatial join.",
    "inventory_newsvendor": "Rank parts from a per-part aggregate "
    "first; the (part, day) grain is built only for the broadcast "
    "top-5-restricted fact and checkpointed. Fractile search and the "
    "expected-cost curve run on that bounded histogram with exact "
    "integer comparisons.",
    "forecast_croston": "Per-part folds over demand days only (day "
    "index leads the sort encoding); the only fact-sized work is "
    "the (part, day) aggregate.",
    "stats_wilcoxon_signed_rank": "Ranks come from prefix sums over "
    "the distinct-|delta| histogram (the Spearman doubled-rank "
    "device) — nothing sorts the user rows.",
    "text_js_divergence_sources": "Support is source x vocabulary "
    "(corpus-bounded); contributions grid-land per cell before the "
    "per-source sum — the lexical drift monitor stays one "
    "vocabulary-sized join.",
    "parts_pareto_abc": "Distributed two-level prefix sum "
    "(operators/prefix.py) instead of the oracle's global cumulative "
    "window: sketched revenue-bucket literals assign buckets "
    "map-side, the running sum is keyed by bucket (parallel window, "
    "hashpartitioning — NOT SinglePartition), and only the "
    "checkpointed <=64-row offsets relation ever cumulates globally. "
    "The part domain never funnels through one task.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    specs = load_all()
    spark = get_spark("explain-report")
    out = ["# PLANS — physical plans of the headline queries",
           "",
           f"Generated by `tools/explain_report.py` at `{sf_dir}`. Each plan is",
           "annotated with the scale property it is supposed to exhibit —",
           "`tests/test_plans.py` asserts the critical ones in CI.",
           ""]
    for name, note in ANNOTATED.items():
        df = specs[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Why this plan:** {note}")
        out.append("")
        out.append("```")
        out.append(buf.getvalue().rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
