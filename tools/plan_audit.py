#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for every headline
query (scan pruning, join strategies, exchange count) plus the
at-scale rationale. Run from the repo root:

    python tools/plan_audit.py          # writes PLANS.md at sf0.01
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from bigdataflink_spark import get_spark  # noqa: E402
from bigdataflink_spark.plans.queries import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# Why each plan is the one we want at 1000 executors / 100 TB.
NOTES = {
    "q01_pricing_summary": "Single scan → partial+final hash agg; one exchange on the 4-value group key. Decimal sums stay in codegen.",
    "q02_revenue_by_region": "Flagship star join: fact scans 3 of 11 columns and never shuffles at this SF — nation/region hinted broadcast, customer unhinted (AQE broadcasts it here, degrades to a shuffle join at 100× instead of OOMing a forced build side); the only guaranteed exchange is the final 2-key agg.",
    "q03_top_customers": "Agg before sort; global top-k via TakeOrderedAndProject (no full sort shuffle).",
    "q04_priority_semi_join": "LeftSemi broadcast — probe side streams, no dedup materialization.",
    "q06_ri_check": "Six left joins + one conditional-agg pass; bounded nation/region hinted, SF-scaling part/supplier/customer AQE-sized (broadcast here, shuffle at 100×); fact side single scan.",
    "q08_date_parts": "year/month computed in the scan projection; one exchange for the agg.",
    "q10_window_rank": "One shuffle on o_custkey for the ranking window; rank<=3 filters before any further op.",
    "q11_json_extract": "from_json in the scan stage; no shuffle until the agg.",
    "q14_lww_dedup": "Keyed LWW = one shuffle on the natural key, row_number, filter — the upsert semantics with exactly one exchange.",
    "q15_tumbling_window": "window() desugars to a bucket expression → plain hash agg; one exchange.",
    "q17_session_window": "session_window needs a per-key sort; one shuffle on user_id.",
    "q20_dedup_exact": "Hash-groupBy dedup: one shuffle on the content hash.",
    "q21_minhash_lsh": "Signatures: one groupBy(doc) with P min-aggs (no P-way blowup). LSH: shuffle on band signature pairs only bucket-mates — candidate set, not corpus, is quadratic.",
    "q22_simhash": "Per-doc signature then groupBy signature: two narrow projections + one exchange.",
    "q24_embedding_topk": "Queries broadcast against the corpus; corpus never shuffles; per-pair work is one JVM fold (zip_with + aggregate).",
    "q26_ivf_topk": "Centroid build is a posexplode agg (bounded by cells×dims); probe routes to ONE cell → scoring join keys on cell id, shuffle ∝ corpus, not corpus².",
    "q30_text_stats": "Pure per-row expressions in the scan stage; one exchange for the source-level agg.",
    "q33_fingerprint": "Normalization + md5 in scan stage; countDistinct partials map-side.",
    "q38_asof_join": "Union+window as-of: ONE shuffle on user_id (sort-merge-join cost); the naive theta formulation would be a nested-loop O(n·m).",
    "q39_range_join": "Interval bucketing turns the band join into a broadcast HASH join on bucket + residual filter; tier table is a JVM LocalRelation.",
    "q42_salted_join": "Salt spreads each hot key over 8 reducers; build side replicates ×8 (bounded), probe computes its salt in the scan stage.",
    "q44_corpus_pipeline": "Whole corpus pass in one plan: score+filter in the scan stage, ONE shuffle on fingerprint for dedup, one for the final agg. Nothing leaves the JVM.",
    "q46_tfidf_topk": "explode→tf/df aggs reuse the same term shuffle; the doc-count scalar broadcasts; top-k per source is one window over the already-partitioned agg.",
    "q48_sessionize": "lag + running-sum share ONE per-user window sort; the session agg groups on the same keys — a single shuffle end-to-end.",
    "q49_embedding_lsh_neardup": "band self-join keys on (band, bsig) — candidates, not the corpus, are quadratic; exact cosine only on the ~23% surviving pairs.",
    "q47_part_supplier_revenue": "LIKE 'MED%' pushes to the part scan as StringStartsWith; nation hinted, part/supplier AQE-sized — the fact side stays shuffle-free while they fit.",
    "q52_forecast_revenue": "TPC-H Q6 shape: all three range predicates push to the parquet scan (row-group min/max pruning kills most of 100 TB before decode); 3-col ReadSchema; map-side partials collapse to one scalar row.",
    "q53_customer_distribution": "LEFT join keeps every customer; orders aggregates per custkey, then the second agg groups ~50 distinct counts — the distribution agg is effectively free after the join shuffle.",
    "q54_promo_revenue": "One month's fact slice (pushed date range) joins part AQE-sized; both CASE sums come out of a single agg pass — no second scan for the denominator.",
    "q55_returned_items": "returnflag and the order-date range both push to their scans; fact⋈orders is the one shuffle; nation hinted, customer AQE-sized; top-20 via TakeOrderedAndProject on the exact decimal sum, no global sort.",
    "q56_nation_volume": "The SAME dim broadcasts twice under two roles (supplier nation / customer nation) — role-playing dimensions cost two tiny broadcasts, never a self-join shuffle; supplier/customer are unhinted (AQE-sized); fact⋈orders remains the only guaranteed exchange.",
    "q57_window_battery": "lag/lead/ntile/first share ONE Window spec → a single shuffle+sort on o_custkey feeds all four functions in one Window node.",
    "q58_array_funcs": "Element access, size, array_max/min are all per-row JVM expressions in the scan stage; the only exchange is the 10-group label agg.",
    "q59_argmax": "max_by/min_by are single-pass aggregates with map-side partials — the per-key winner without a window sort (the oracle needs two row_number windows for the same answer).",
    "q60_disjunctive_filter": "The OR-of-ANDs references both join sides, so it evaluates as a post-join filter against part (AQE-sized); the fact scan still prunes to 4 columns and never shuffles.",
    "q61_sales_opportunity": "The positive-balance stats collapse to ONE row and broadcast (scalar-subquery pattern); the distinct order-custkey probe shuffles once; balance×n > sum comparison stays in exact decimal in the scan stage.",
    "q62_large_orders": "The HAVING-filtered agg keys on l_orderkey; its output is tiny (sum>250 survivors) so the join back to orders broadcasts the SURVIVORS, not the fact — at 100 TB the quantity agg is the only fact shuffle.",
    "q63_top_supplier": "Quarter filter pushes to the scan; ONE fact scan + one supplier-key shuffle; the global MAX is a window over the tiny per-supplier agg (naive agg+join would scan the fact twice); winner filter compares exact decimals.",
    "q64_market_share": "nation hinted, supplier AQE-sized; numerator and denominator share ONE agg pass (CASE inside sum) — no second scan, one exchange on ship-year.",
    "q65_grouping_sets": "Expand writes one row per grouping set (×3) BEFORE the single hash agg — same plan family as rollup/cube, still exactly one exchange.",
    "q66_embedding_topk_pandas": "mapInPandas streams corpus partitions through Arrow into per-batch numpy scoring (no per-row pickling, no corpus shuffle); only the per-query top-k window exchanges — the Python stage replaces q24's per-pair fold with one GEMM-shaped pass per batch.",
    "q67_shipping_priority": "Both date cutoffs push to their scans (complementary ranges prune most row groups on either side); segment filter prunes the customer build side (AQE-sized); top-10 via TakeOrderedAndProject after the group agg.",
    "q68_late_shipment_ratio": "The late predicate compares columns across sides so it evaluates post-join, but both scans still prune columns; high/low counts come from ONE CASE agg pass on ship-year.",
    "q69_small_quantity_revenue": "Hand-decorrelated Q17: per-part averages aggregate once (partial map-side) and join back unhinted — AQE broadcasts while they fit, co-shuffles both sides on partkey at 100×; the threshold compares in exact decimal, multiplied through.",
    "q70_filtered_distinct": "Two DISTINCT aggregates + a plain count in ONE pass: Catalyst's Expand-based multi-distinct rewrite — no self-join, no second scan; one exchange on the 5-value group key.",
    "q71_multimodal_resize": "The whole binary pipeline (generate -> decode -> NN-resize -> byte stats) is three chained mapInPandas stages in ONE task pipeline: zero exchanges, payloads never shuffle — per-row Arrow work that scales embarrassingly with executors.",
    "q75_click_attribution": "Interval join keys on user_id — a plain keyed shuffle join with the 10-min range as residual condition, never a nested loop; streaming twin bounds state via watermarks.",
    "q76_local_supplier_volume": "Q5 shape: the defining c_nationkey = s_nationkey edge evaluates post-join between two dim arms; fact joins orders once (keyed shuffle), region filter prunes the broadcast build side.",
    "q77_product_type_profit": "Q9 shape: p_type LIKE pushes to the part scan; the profit expression stays in exact decimal through one agg pass; fact joins orders once, supplier/part AQE-sized.",
    "q78_waiting_suppliers": "Q21 shape: both correlations (EXISTS other supplier / NOT EXISTS other late) plan as left-semi and left-anti joins keyed on orderkey over a slim (orderkey,suppkey) projection — no nested loop; top-20 via TakeOrderedAndProject.",
    "q79_window_battery2": "percent_rank/cume_dist/nth_value share ONE per-custkey window sort; the RANGE frame adds a second spec on the same partition key, so both ride a single o_custkey shuffle.",
    "q80_date_battery": "Seven date expressions, all in the scan projection: no exchange at all (pure per-row battery).",
    "q81_array_battery2": "Four higher-order array expressions (filter/fold/sort/zip) all in the scan projection — zero exchanges; the L2 fold is an explicit left-to-right double accumulation, the cross-engine-stable summation order.",
    "q73_hash_split": "Split assignment is a scan-stage md5 expression (no shuffle, no RNG, no ordering dependence); the only exchange is the 3-group agg — reproducible splits at any scale by construction.",
    "q74_pii_redaction": "Pure regexp_replace/regexp_count chain in the scan stage: zero exchanges, nothing leaves the JVM; redaction audits ride the same pass as the scrub itself.",
    "q72_dedup_clusters": "Pair->cluster resolution: each min-label round is one keyed shuffle (edges joined to labels + min agg), lineage cut per round (localCheckpoint) so the plan stays constant-size; rounds = component diameter (2-4 for near-dup clusters). The audited plan is the final labels projection over the converged checkpoint.",
    "q82_repetition_stats": "All four repetition ratios are per-row array expressions over a ONCE-materialized token array — zero exchanges; the per-row cost is O(distinct·total) on ~100-token docs, never a corpus-wide op.",
    "q83_contamination_check": "Both sides explode to shingle rows; the left-semi join keys on the shingle string (one shuffle each side, AQE broadcasts the distinct benchmark set when small); per-doc hit counts reuse the doc_id shuffle — never pairwise.",
    "q84_stratified_sample": "The sampling filter is a scan-stage md5 expression (zero shuffles); only the per-language audit agg exchanges — membership is partitioning-independent by construction.",
    "q85_profile": "Six columns profiled in ONE scan: Catalyst's Expand-based multi-distinct rewrite feeds a single two-stage hash agg; the unpivot explodes one driver-sized row. The approximate=True HLL variant drops the Expand for 100 TB.",
    "q86_quality_funnel": "All four rule flags evaluate in the scan projection; one single-row conditional-sum agg, then a 5-row unpivot — the funnel costs exactly one pass over the corpus.",
    "q87_stats_battery": "Eight moment aggregates share ONE partial+final hash-agg pass (numerically-stable pairwise merge of map-side partials); a single exchange on the 3-value flag key.",
    "q88_string_battery2": "Nine string/regex expressions all evaluate in the scan projection; the only exchange is the compact group-key agg — nothing leaves codegen.",
    "q89_order_priority_check": "Q4 shape: the EXISTS plans as a hash LEFT SEMI keyed on orderkey with the ship-lag residual riding on it — lineitem is probed, never materialized; the date range pushes to the orders scan.",
    "q90_min_cost_supplier": "Q2 shape: derived partsupp aggregates once on (partkey,suppkey); the min-cost window re-partitions on ps_partkey only (same data, narrower key); nation/region broadcast, part/supplier AQE-sized — at 100× the partsupp agg is the only fact-sized shuffle.",
    "q91_parts_supplier_counts": "Q16 shape: NOT IN is a LEFT ANTI against the negative-balance keys (null-free by construction); COUNT DISTINCT expands on (brand,size,suppkey) — bounded groups, two-stage agg, no skew.",
    "q92_excess_stock_suppliers": "Q20 shape: per-(part,supp) and per-part sums share the l_partkey shuffle; the supplier keep-set is LEFT SEMI so multi-part qualifiers emit once; the 1997 range pushes to the fact scan.",
    "q93_important_stock": "Q11 shape: the HAVING>scalar subquery is a one-row crossJoin broadcast; the threshold comparison multiplies through so both engines compare exact decimals; one partkey shuffle after the nation semi-filter.",
    "q94_sequence_packing": "One window cumsum per lang partition and an agg on the SAME keys — a single sort-shuffle serves both; bin ids derive from token offsets, so range-sub-sharding at 100 TB changes no answer.",
    "q95_domain_mixture": "Group sizes and the token total come from one agg + one-row crossJoin broadcast; token counting is a scan-stage array expression — the mixture table costs one corpus pass.",
    "q96_passage_dedup": "Chunking is a scan-stage array expression; one explode to distinct (doc, passage), then both keyed exchanges carry xxhash64(passage) (r13: ~5x fewer shuffle bytes than the passage strings; oracle still counts strings, equality pinned by the 3-SF sweeps), one join back on the hash, one doc-key agg — linear in total passages, no pair join at any scale.",
    "q97_vocab_coverage": "Explode + (lang, term) agg with map-side partials; the cumulative-coverage window sorts the VOCABULARY per lang (distinct terms, not tokens) — the sort input stays millions-scale under a 100 TB corpus while the linear explode+agg does the heavy lifting.",
    "q98_knn_label_vote": "Scoring is q24's broadcast-queries pattern (corpus never shuffles); the vote adds a k-rows-per-query groupBy and one window — negligible; labels join via broadcast. Swap the scorer for ivf_topk at web scale, vote logic unchanged.",
    "q99_scd2_history": "Change detection (lag+row_number) and interval assembly (lead+version) share the SAME (user × time) sort — Catalyst plans one shuffle + one sort feeding both Window nodes; no self-join, no per-row upserts, cost independent of history depth.",
    "q100_neardup_corpus": "LSH pair generation is q21's bucketed shape; the greedy fixpoint iterates only the candidate-id frontier (localCheckpoint per round, like q72) — the audited plan is the final per-lang agg over the converged keep flags; the corpus passes once.",
    "q101_fuzzy_match": "Prefix-filtered q-gram blocking (AllPairs family): each string joins on only its q·d+1 RAREST grams (canonical df order from one agg), so the candidate join never keys on Zipf-hot grams; below-threshold (short/degenerate) strings route through the r4 length-window fallback block — scan-stage membership test, ~0.2s at bench scale, zero fallback rows on this corpus — making recall for dist<=d exact at EVERY length mix; Levenshtein runs on candidates only; resolution is one window.",
    "q103_gap_fill": "Events collapse to the hourly grid FIRST (one user-keyed agg), so the sequence() explode is linear in grid slots, not events; the grid←slots left join is AQE-broadcast here and co-shuffles on (user, slot) at 100×; the forward-fill window rides the same user_id partitioning. Grid granularity, not event volume, bounds the output.",
    "q104_anomaly_zscore": "Moment sums (count/Σv/Σv²) aggregate map-side in exact decimal — one pass, one exchange on the bounded event_type key; the per-type stats row broadcasts back (hinted: cardinality is the type enum, not SF). The z flags evaluate in the probe scan stage.",
    "q105_winsorized_mean": "percentile_disc sorts within the 5 priority groups (one shuffle); the per-group cutoffs broadcast back (hinted: bounded key) and clipping runs in the probe scan stage; the clipped decimal mean reuses the same 5-group agg shape. Two passes over orders by design — percentiles are holistic.",
    "q106_retention_cohorts": "Per-user first-day and per-(user,day) distinct both key on user_id; the cohort join is unhinted (AQE broadcasts the per-user firsts here, co-shuffles at 100× — it GROWS with users, so no forced hint); final cell agg groups ~8 offsets × cohort days.",
    "q107_canonical_dedup": "Canonicalization (lower/regex/collapse) and md5 are scan-stage expressions; the union of originals + synthesized variants feeds ONE shuffle on the canonical hash. Linear at any scale — the variant branch re-scans only the doc_id%5 slice.",
    "q108_ngram_novelty": "One explode to distinct (doc, bigram) rows; first-occurrence agg keys on the bigram, and the join back reuses that same key (AQE broadcasts the firsts side here; at 100× both sides co-shuffle on the gram — never pairwise); the per-doc novelty agg is the second keyed exchange.",
    "q109_full_outer_reconcile": "Both calendars pre-aggregate to one row per day BEFORE the full outer join, so the SortMergeJoin FullOuter exchanges day-cardinality rows, not facts; the src CASE evaluates post-join on null flags.",
    "q110_lateral_topn": "Catalyst decorrelates the LATERAL subquery into a join + per-region window rank (DomainJoin → rank<=2 filter): nation/customer join broadcasts, the windows ride one keyed sort — NOT one subquery execution per outer row; identical physical family to the window-rank twin q10.",
    "q111_zorder_key": "Min/max stats collapse to ONE row and broadcast (scalar crossJoin); the scale + 32-term bit-interleave tree is pure scan-stage codegen — zero data shuffles. write_zordered adds only the range-shard exchange on the key.",
    "q112_histogram": "Global min/max is a 1-row broadcast; bin assignment runs in the scan stage and the agg keys on the 20-value bin — bounded groups, map-side partials, one exchange.",
    "q113_approx_percentile_contract": "The sketch and both exact percentiles come from one agg pass (percentile sorts within the single group); the 2-row targets broadcast back over the scan to measure achieved rank — the second pass is the price of auditing the first.",
    "q114_key_skew_profile": "One fact shuffle to per-key counts; the Gini's global rank is STAGED (r4): count-range buckets from broadcast quantiles, per-bucket ranking windows, B-row offsets broadcast back — no single-task sort of the key population; top-10 rides TakeOrdered; the 1-row stat legs recombine via scalar broadcasts.",
    "q116_agg_battery": "Six commutative-associative aggregates share ONE partial+final hash-agg pass — order-independent bit-exact merges, one exchange on the 5-value priority key.",
    "q117_funnel": "Each funnel stage is a filtered per-user min agg joined to the previous stage on user_id — per-stage state is one row per surviving user; the four stage counts recombine as 1-row broadcasts.",
    "q118_video_frame_stats": "Three chained mapInPandas stages (generate -> frame-slice -> stats) fuse into ONE task pipeline: zero exchanges, binary payloads never shuffle — q71's argument with a 1:N frame fan-out in the middle.",
    "q119_cdc_apply": "Base ∪ changes shuffles ONCE on the key for the latest-op window (q14's LWW cost envelope); deletes drop in the same filter, and the audit agg groups the 3-value status key.",
    "q120_variant_extract": "parse_json + variant_get run in the scan stage (no declared schema to break on drift); the multi-distinct agg is Catalyst's Expand rewrite on the bounded type key — one exchange.",
    "q121_grouped_topk_arrays": "collect_list rides the ONE group-key exchange; sort+slice are per-group in-memory (bounded by group size) — no window shuffle for the ranked-list shape.",
    "q122_pmi_collocations": "ONE corpus scan: unigrams+bigrams explode together under a kind tag into a single token-keyed count shuffle, persisted vocab-sized — the scans listed below are all InMemoryTableScans of that one cache (the FileScan executes once at materialization; without the cache each of the 4 references re-scans the corpus, since filter pushdown defeats ReuseExchange). Unigram joins are vocab×vocab, totals ride 1-row broadcasts; the top-20 is TakeOrdered(20) + a 20-row rank window (r4 — no global window over the bigram set).",
    "q123_inverted_index": "Count-then-filter pre-pass (implemented r4): df counts on the persisted pair table, the stopword cut prunes hot terms via LEFT SEMI before any posting list exists, and a ranked filter bounds each surviving term to 8 postings — no term ever materializes its full list in an agg buffer.",
    "q124_mad_outliers": "Two grouped percentile_disc passes on the bounded event_type key; the per-group cutoffs rejoin as broadcasts so the fact side never reshuffles. percentile_disc sorts within groups — at 100× swap to approx_percentile for the first pass and keep disc only for the audit.",
    "q125_doc_chunking": "Pure map stage: sequence→explode→slice all in the scan projection; ZERO exchanges. The only cost is the overlap's inherent ~1.33× token amplification — exactly the shape that scales by adding executors.",
    "q126_unigram_lm_score": "One tokenize-explode persisted feeds both the vocab count (term-keyed shuffle, vocab-sized output) and the per-doc join; the count side is sublinear in corpus so AQE broadcasts it at small SF and falls back to a term-keyed shuffle at 100 TB. Per-doc sums are exact BIGINTs — one final division.",
    "q127_equidepth_bins": "Decile bounds via percentile_disc (distributed sort-agg) ride a 1-row broadcast; binning is a per-row array fold in the scan stage; final agg on the 10-value bin key. NO global ntile window — nothing serializes onto one task.",
    "q128_map_battery": "Two-level keyed agg: per-(custkey,priority) partials combine map-side, so the custkey shuffle carries ≤5 rows/customer; all map ops are per-row expressions after the agg.",
    "q129_pit_join": "History (2 windows over one user_id sort) and grid (agg + sequence explode) each shuffle once on user_id; the PIT match is the per-key hash-join probe with the interval predicate applied inside the match — versions-per-key cost, never a cross product.",
    "q130_regression_by_group": "Single grouped pass on the 5-value priority key; all moment sums are exact (BIGINT/decimal) partial+final aggs in codegen; slope/intercept are per-group scalar expressions after the agg.",
    "q131_sample_allocation": "Stratum table is bounded by source×lang cardinality and persisted — the corpus-sized token-count agg executes ONCE; quota/total/leftover and the global remainder-ranking window all run on the ~100 cached rows.",
    "q132_source_divergence": "One tokenize scan into the persisted (source,term) count table; global/per-source totals derive from the cache. The term join shuffles vocab-sized data (sublinear in corpus); per-source sums are exact BIGINT cross-products with one division each.",
    "q133_vocab_overlap": "Distinct (source,term) persisted; the self-join keys on term (vocab-sized shuffle) and its output is bounded by sources² — never documents². Set sizes rejoin as broadcasts.",
    "q134_time_weighted_avg": "One lead() window + one agg, both keyed on user_id — scales with keys, not history. Weights are exact integer micros × decimal values; one division per key.",
    "q135_unpivot": "One grouped pass for the wide agg; unpivot is a per-row Expand (3 output rows per input) with zero extra exchanges.",
    "q136_market_basket": "Basket table (order × brand, distinct) persisted; pair explode is quadratic per basket, linear in orders. Supports join back as broadcasts; top-20 via TakeOrdered + a 20-row rank window (r4).",
    "q137_event_transitions": "One lead() window on the user_id shuffle; counts and shares on the bounded type×type key.",
    "q138_interarrival_histogram": "One lead() window on user_id; the log2 bucket is an exact integer bit-length expression in the scan stage; final agg on the bounded type×bucket key.",
    "q139_quantile_transform": "Ranking window and group count share the one event_type partition spec — a single Exchange serves both. Conscious tradeoff: exact per-group ranks sort each (bounded-cardinality) type on one task; at 100 TB/type use the q127 boundary-broadcast bins instead (docstring).",
    "q140_longest_streak": "Distinct (cust, month) then two windows + one agg, all on the custkey shuffle — the islands trick is pure integer arithmetic, no self-joins across months.",
    "q141_linear_attribution": "Interval join = equality-key hash join with the range residual (q75 shape); the per-purchase count window keys on purchase_id; credits clamp to decimal so the user-level sum is one exact agg.",
    "q142_weekly_percentiles": "One grouped percentile_disc sort-agg on the bounded (iso_year, iso_week) key; week extraction runs in the scan projection.",
    "q143_active_users": "No range-window distinct: each distinct user-day explodes into its ≤7 cover days (linear 7× amplification) and one day-keyed distinct-count finishes — the shape that survives 100 TB where a per-day DISTINCT window rescans the trailing week per day.",
    "q144_rfm_segmentation": "Per-customer agg persisted; 9 percentile_disc boundaries in ONE distributed sort-agg ride a 1-row broadcast; scoring is per-row arithmetic; final census on the bounded 4³ segment key.",
    "q145_golden_record": "One keyed window on custkey (completeness + recency sort); masking and field counting are scan-stage expressions.",
    "q146_chisq_contingency": "Cell counts persisted; marginals derive from the cache; everything joins back as broadcasts on bounded keys. Emitting per-cell contributions keeps all arithmetic one-division deterministic.",
    "q147_pareto_deciles": "Per-customer spend persisted; decile bounds in one distributed sort-agg ride a 1-row broadcast; binning is a per-row fold; final agg on the 10-value decile key.",
    "q148_id_continuity": "One distinct + one bucket-keyed integer agg — parallelizes over buckets; deliberately NOT a lead()-over-everything gap list, which would serialize the global sort.",
    "q149_double_fire": "Self-join keyed on (user, type) with time/value bands as residuals — the equality key bounds pairing to within-key groups, never a time-only cross product.",
    "q150_bpe_merge_candidates": "Char-pair extraction is a per-token array expression (amplification bounded by word length — linear in corpus bytes); one pair-keyed count shuffle; top-20 via TakeOrdered + a 20-row rank window (r4).",
    "q151_padding_waste": "Per-row integer bin arithmetic in the scan stage; one bounded-key agg; padded-total scalar rides a 1-row broadcast.",
    "q152_grouped_mode": "Count-then-rank: one (brand,type) count shuffle + a brand-keyed window over the COUNTED table (bounded), never over raw rows.",
    "q153_order_reconciliation": "Line-side keyed agg + header join (AQE-sized) + bounded-key agg; drift stays exact decimal so the 1-cent verdicts are partition-order-free.",
    "q154_label_centroids": "posexplode is linear (64×); (label,dim) agg then label rollup — integer micro-unit sums keep every intermediate exact until the per-label division.",
    "q155_cluster_tightness": "Radius needs NO pairwise pass (E|v|²−|centroid|² from the same sums); the only quadratic piece is the labels² centroid pairing — bounded by label cardinality, never corpus. Persisted comp/per_dim serve all four aggregates from one explode.",
    "q156_array_setops": "All set ops are per-row scan-stage expressions against a literal probe array; one bounded source-key agg.",
    "q157_bitmap_distinct": "bit_or partials combine map-side (associative) — one custkey shuffle carries a single long per key; bit_count is a per-row expression after the agg.",
    "q158_session_paths": "Sessionization is the q48 lag-cumsum on one user-keyed sort; the path agg collects ≤3 structs per session; counts shuffle on the bounded path string; top-10 via TakeOrdered + a 10-row rank window (r4).",
    "q159_conversion_latency": "As-of = equality-key join + per-purchase max (no window over raw events); the one-row percentile agg sorts only the conversion latencies.",
    "q160_trailing_window_count": "One user-keyed window pass; the RANGE frame is value-bounded integer micros, so the count is tie-order-free.",
    "q161_ewma": "One collect per user (array bounded by per-key history); the fold is a per-row expression after the agg — the sequential recurrence costs a keyed shuffle, not a window scan per step.",
    "q162_coverage_audit": "One key-equi FULL OUTER (AQE-sized) + a one-row audit agg; only the two id columns are ever read.",
    "q163_dedup_savings": "Hash + token count in one scan (persisted); keep-set is a hash-keyed min agg; savings are exact integer sums with one final division.",
    "q164_share_of_region": "Fact-side work is the q02 star join (one agg exchange); the ratio-to-parent window runs over the bounded 25-row nation table.",
    "q165_prefix_collisions": "One md5 per doc in the scan stage; one hash-keyed count; the ≥2 cut applies post-agg — linear, bounded per-doc work.",
    "q166_audio_channel_stats": "Two Arrow map stages (synthesize clip, decode+stats), zero shuffles, zero joins — embarrassingly parallel per clip; at 100 TB the synthesize stage is replaced by a binary-column scan and the shape is unchanged.",
    "q167_audio_downmix": "Three chained Arrow map stages (synthesize, floor-div downmix re-encode, decode+stats) — still zero shuffles; payload-in/payload-out downmix composes with any downstream media op.",
    "q168_observe_metrics": "Metrics accumulate inside the events scan (AccumulatorV2) — the noop write is the one action; the returned frame is a 1-row aggregate with the observed literals folded in. Zero extra scans of events beyond the observe pass + direct-check aggregate.",
    "q169_streaming_topk": "Three partial-count writes (one keyed shuffle each over a third of the corpus) + one merge agg + top-20 — the same mergeable-partials state the streaming engine drives; at 100 TB the per-batch partial is the only state rewritten.",
    "q170_streaming_moments": "Three exact-decimal moment partials + one merge + broadcast of the 5-row stats to the scoring pass — identical shuffle count to q104, state-mediated.",
    "q171_udtf_chunking": "Arrow-batched Python UDTF lateral per partition, md5 in the projection — zero shuffles like q125; the Python round-trip is the declared cost of the imperative surface (q125 is the production twin).",
    "q172_udaf_trimmed_mean": "One Arrow grouped-agg pass (each group's values to one worker — declared order-statistic cost; q105 winsorized-decimal is the scale path) + a count agg joined on the ~5-row key set broadcast.",
    "q173_minhash_estimation_audit": "q21's signature/candidate shapes (one shingle shuffle, banded self-join on bucket keys) + two candidate-keyed joins for signatures and shingle sets — integer micro-unit comparison, linear in candidates.",
    "q174_snapshot_diff": "Two immutable snapshot writes + one full-outer join on the key over exactly the two compared versions (fingerprints computed in the scan stage) — linear, one shuffle; readers never replay a log.",
    "q175_pareto_frontier": "The O(n²) dominance anti-join as a STAGED running-max sweep (round-3 advice fix): spend-range buckets from broadcast quantile boundaries, per-BUCKET window maxes (partitioned — no global single-task window), and a B-row cross-bucket running max broadcast back; the oracle keeps the NOT EXISTS definition so the staged sweep's equivalence is what gets checked.",
    "q176_weighted_median": "One per-group window sort with a running BIGINT weight sum; the 2·cum ≥ total pick stays in exact integers — no interpolation, same element on both engines.",
    "q177_int8_quantization_audit": "Pure per-row higher-order functions over the embedding array — zero shuffles, zero joins; all arithmetic in BIGINT micro-units (|v| quantized then re-signed since Spark DIV truncates and DuckDB // floors).",
    "q178_pagerank": "Driver loop of 3 rounds, each one |E|-keyed join + one dst-keyed sum (edges persisted once); integer micro-unit ranks so the unrolled-SQL oracle matches bit-for-bit. Linear in |E| per round — the standard distributed PageRank shape.",
    "q179_expectations_audit": "All four scalar rules share ONE aggregate scan (map-side partials, 1-row result); pk-unique adds one keyed count, the FK one left-anti join (AQE broadcasts the dim). Rule-per-row output so a gate is filter(~passed).",
    "q180_streaming_scd2": "Three real change-log merges (dirty-bucket rewrites) + the lead() read — identical output to q104-style one-shot q99. The global row_number slice is fixture machinery only; production CDC feeds arrive time-ordered.",
    "q181_continuous_rollup": "Three partial-aggregate part writes + one compaction rewrite + the final-merge agg — additive DECIMAL partials, so slicing and compaction are invisible to the result; the rollup never rescans raw events.",
    "q05_customers_without_orders": "NOT EXISTS plans as a LEFT ANTI hash join on custkey — orders is probed as a slim key projection, never materialized; limit rides TakeOrdered.",
    "q07_distinct_counts": "COUNT(*) + COUNT(DISTINCT) in one pass via Catalyst's Expand-based multi-distinct rewrite — no self-join, one exchange; the reference's uniqueness invariant as a single scan.",
    "q09_union_slices": "UNION ALL of two filtered slices of the SAME scan: both predicates push down, the union is a no-shuffle concatenation, one exchange for the status agg.",
    "q12_string_cleanse": "trim/nullif/concat_ws all evaluate in the scan projection (the reference's P4/P5 cleanse battery) — zero exchanges beyond the output.",
    "q13_coercions": "Tolerant casts (floor(try_cast), 3-format date cascade, coalesce defaults) are pure scan-stage expressions — the semantics-critical layer costs no shuffle at all.",
    "q16_sliding_window": "Sliding window() explodes each event into its ~window/slide covering buckets (bounded amplification in the scan stage) then one hash agg — no per-window rescan.",
    "q18_rollup": "ROLLUP = one Expand (×3 grouping sets) before a single hash agg — one exchange regardless of grouping-set count.",
    "q19_approx_distinct": "HLL approx_count_distinct + exact countDistinct share one agg pass; the bounded-error contract comparison is a scalar expression on the 1-row result.",
    "q23_token_jaccard_bruteforce_check": "All-pairs exact-Jaccard ORACLE TWIN: mechanically guarded above ~10⁴ docs (guard_bruteforce raises) — the quadratic shape is the point of the check; q21's banded MinHash is the scale path.",
    "q25_embedding_neardup_bruteforce_check": "All-pairs cosine ORACLE TWIN, same mechanical guard — q49's sign-LSH is the scale path; the exact form exists to certify it.",
    "q31_lang_id": "N-gram heuristic language ID is a per-row expression battery in the scan stage; one bounded lang-key agg.",
    "q32_token_count": "Whitespace + BPE-ish regex token counts are per-row array expressions — zero shuffles before the per-source agg.",
    "q34_multimodal_bytes": "Synthesized binary payloads flow through one modality-keyed agg; octet_length/md5 run per-row in the scan stage — payloads never shuffle wider than the 3-row result.",
    "q35_cube": "CUBE = one Expand (×4 grouping sets) + single hash agg — same one-exchange family as q18/q65.",
    "q36_percentiles": "Grouped percentile_disc is a within-group sort-agg on the bounded priority key; one exchange, exact discrete elements (no interpolation drift).",
    "q37_setops": "INTERSECT/EXCEPT plan as LEFT SEMI / LEFT ANTI over pre-aggregated distinct slices — key-cardinality shuffles, never row-level pairing.",
    "q40_pivot": "Pivot with an explicit value list compiles to CASE-sum aggregates in ONE hash-agg pass — no per-pivot-column scan.",
    "q41_sampled_agg": "The 5% sample is a deterministic md5-bucket filter in the scan stage (reproducible on any engine/partitioning, unlike TABLESAMPLE) — sampling costs zero shuffles; one agg exchange.",
    "q43_above_nation_avg": "Per-nation averages aggregate once (exact decimal) and broadcast back; the above-average filter compares sum·n against n·avg-sums in exact integers — no correlated subquery execution.",
    "q45_having": "HAVING is a post-agg filter on the single hash-agg pass — one exchange, predicate on the aggregated row only.",
    "q50_string_funcs": "The F1-F11 scalar battery (concat_ws/trim/nullif/initcap…) is all scan-stage codegen — zero exchanges beyond the output collect.",
    "q51_running_total": "Monthly agg first (one exchange), then the cumulative ROWS frame rides a window over the AGGREGATED rows partitioned by priority — the running sum sorts months-per-priority, never raw orders.",
    "q102_hll_mergeable": "Per-type HLL partials + one union-merge agg + the direct sketch — the mergeable-sketch contract pinned as ACCURACY bounds (both estimates in the 5% band, merged within 2% of direct), not byte equality: the HLL_4 union path lands registers differently than the direct sketch past coupon mode (caught by the round-6 sf0.1 sweep).",
    "q115_recursive_hierarchy": "Spark 4 recursive CTE: the frontier shrinks 10× per step (parent = key DIV 10), so the walk is n·log₁₀(n) total rows of keyed projection — bounded recursion, no joins against raw fact data.",
    "q187_jpeg_roundtrip": "ONE Arrow map stage (raster -> real JFIF encode -> full segment-walk decode -> error contract): zero shuffles, zero joins — the embarrassingly-parallel codec shape; lossy, so the oracle pins dims + bounded-error booleans, never bytes.",
    "q188_jpeg_subsampled": "q187's shape (ONE Arrow map stage, zero shuffles/joins) over the wild-profile path: 4:2:0 chroma subsampling + DRI/RSTn restart intervals through the generalized MCU decoder; disjoint doc_id%5==1 fifth, bounded-error contract like every lossy codec here.",
    "q189_png_profiles": "ONE Arrow map stage round-tripping all four non-RGB PNG color types (gray/Sub, gray+alpha/Up, RGBA/Paeth, palette/Average with PLTE expansion): zero shuffles, zero joins; PNG is lossless so the oracle recomputes every decoded byte from the closed forms — exact stats, never bounds.",
    "q190_tvd_drift_gate": "q182's release-gate shape extended to DISTRIBUTION drift: declared (bounded) TVD buckets compile to conditional SUMs inside the ONE aggregate scan per snapshot — no groupBy, no extra exchange; TVD ppm is an exact DECIMAL(38,0) cross-product sum with one integral division, so verdicts are partition-order-free.",
    "q192_streaming_semdedup": "Three accept_batch steps, each ONE cell-keyed equi-join of the batch against parquet state (state side never re-scored, exact cosine on candidates only) + one state append; stream-over-slices == batch semantic_dedup exactly, so a stateful streaming operator gets a full value-hash oracle (q185's EXISTS).",
    "q197_flac_lpc": "q195's fan-out Arrow-map shape for the LPC subframe family: period-6 linear recurrences (closed-form via i%6, SQL-recomputable) that fixed differencing can never whiten but order-2 LPC kills; lpc_used is read back from the stream BYTES (flac_subframe_histogram), not planner intent, and compressed_smaller pins that LPC delivers real compression while hash noise stays honestly verbatim; one 8-byte-row doc-id shuffle, zero joins.",
    "q209_exact_stratified_sample": "Budgeted corpus draw: ONE tiny stratum-count aggregate (collected driver-side — strata are languages, never corpus-sized; merge.py's justified-collect pattern), Hamilton largest-remainder apportionment in exact integer arithmetic, then a STAGED per-stratum selection (round 8): big strata pre-filter to bucket < ceil(RES*k/n) so the rank window sees ~alloc rows instead of the stratum population (no one-reducer sort of a dominant language at 100x; survivor-count check escalates any deficient stratum to the full rank, so the draw is identical by construction), allocation table broadcast back; md5-bucket ranking makes the draw a pure function of (salt, id), so the oracle replays the identical 200 selections.",
    "q210_jpeg_extended": "Extended-sequential JPEG (SOF1) contract: one Arrow map stage over the doc_id%7==4 slice fanned out by the tiny doc-id repartition (heavy per-row codec work on all cores), zero joins, zero aggregates beyond the map; the 12-bit encode/decode plus the 8-bit SOF0/SOF1 twin comparison are per-row CPU, exactly where mapInPandas wants them.",
    "q211_wav_formats": "Non-PCM16 WAV contract: one Arrow map stage over the doc_id%7==0 slice fanned out by the tiny doc-id repartition, zero joins; four per-row RIFF round-trips (16/24-bit int, float32, 8-bit unsigned) are per-row CPU in the map stage.",
    "q213_kmv_distinct": "KMV bottom-k distinct sketch audit: per-partition k-capped distinct minima inside ONE Arrow stage (no corpus-wide shuffle in the sketch itself; k*P candidate rows feed a TakeOrdered), plus the audit-only exact countDistinct leg; the 1-row direct/merged/exact legs recombine via scalar crossJoins; integer estimate pinned to the last digit by the 48-bit md5 domain.",
    "q214_bloom_seen_set": "Bloom seen-set audit: the filter is a DISTINCT-positions aggregate bounded by m=16384 rows and BROADCAST to the probe join (probe side never shuffles on a cluster); the false-positive count is deterministic (md5) so it is value-hashed exactly; bound boolean uses IEEE multiplies and a power-of-two divide, never libm pow.",
    "q215_streaming_bloom": "Streaming Bloom seen-set: three accept_batch steps, each ONE broadcast membership join of the batch against <=16384 parquet position rows plus one anti-joined bounded append (state never exceeds the filter size, so an unbounded stream has bounded state); stream-over-slices == per-slice batch membership exactly, giving a stateful streaming operator a FULL value-hash oracle (the q192 pattern).",
    "q216_cms_frequency": "Count-Min frequency sketch audit: ONE token-explode scan feeds the bounded d*w counter aggregate (<=32768 rows regardless of corpus - additive sums, merge = re-sum) and the audit-only exact top-10 leg; estimates broadcast-join the counter table (probe side never shuffles); both contract booleans (est>=true hard guarantee, (est-true)*w <= 8N) are pure integer math.",
    "q217_quantile_sketch": "Quantile sketch PRODUCTION build (round-12 split): the level census is ONE groupBy over <=49 bit-length levels (map-side combine -> <=49*P rows move), the power-of-two cutoff broadcasts back into one threshold filter scan, and the summary sorts <=cap=1024 retained rows — exactly 2 corpus passes, nothing else; the validation legs live in q234.",
    "q231_substring_excise": "Substring excision over the r13 head: the window table reduces to (id, pos, xxhash64(window)) and lazily checkpoints ONCE (census + join-back share it — one corpus scan + one window Generate, was two of each; both exchanges carry 8-byte hashes, counts join PINNED shuffle_hash off the broadcast path — x2.1-2.3 at the x100 controlled probe, SCALE.md), dup starts merge to per-doc intervals under one lag window, intervals collect_list per doc (bounded by doc length), and ONE higher-order JVM projection filters each token array against its interval list — no Python.",
    "q232_bpe_vocab_export": "Vocab export: q227's trainer loop (one corpus word census + 8 vocab-sized argmax rounds), then a charset-bounded distinct collect and the n_merges-row merge table assembled driver-side into the (token_id, symbol, kind) table — both collects are the sanctioned bounded class (alphabet + n_merges rows).",
    "q233_bpe_encode_pack": "Tokenizer end-to-end: trainer (corpus census once) + bounded symbol->id literal map; encode is one vocab-sized projection (per-word ids via the final vocab's own segmentation) joined shuffle_hash to the corpus's (doc,pos,word) posexplode (vocab build side never broadcasts - the q226 lesson), reassembled per doc by one collect_list bounded by doc length; packing is q94's one window cumsum + one agg keyed on lang.",
    "q242_pq_kmeans_ann": "Lloyd-trained vs sampled PQ codebook through the identical q224 production shape: training is iters bounded-sample joins (train_ids x ncent rows, codebook broadcast, lineage localCheckpoint-truncated per iteration); both encodes are one Arrow stage each; shortlists/reranks the q224 plan. Exact top-5 leg is the priced brute-force audit (queries broadcast, corpus streams).",
    "q241_curated_corpus_keepfirst": "q237's r13 funnel (bound-once gate, survivors checkpointed once, lang passthrough) with the excision stage swapped to the keep-first election: election fused into the same hashed gram aggregation (min-struct beside the count — no extra exchange), join back pinned shuffle_hash.",
    "q239_substring_excise_keepfirst": "Keep-first excision: q231's window head, but the per-gram aggregation that counts occurrences ALSO takes min(struct(id,pos)) - the global first-occurrence election rides the same map-side-combining shuffle, no extra exchange. Join back pinned shuffle_hash (corpus-derived build side, the q226 AQE lesson); excision tail shared with q231 (interval merge + one JVM HOF projection).",
    "q240_streaming_ivf_pq_index": "IVF-routed streaming PQ index, r13: bootstrap_routed freezes codebook AND centroids and precomputes the per-stream constants (dense codebook, query LUT, query->cell routing) ONCE; per batch one cell-assignment window + one encode Arrow stage; codes land partitionBy(cell); per trigger ONE pinned explicit-schema read over the touched+routed cell files serves both the replay anti-join and the scoring store (pre-append snapshot + the batch's own checkpointed codes — no post-append re-listing, no store checkpoint), so retrieval still LISTS AND SCANS only routed cells (scan_frac ~= nprobe/ncells at both probe scales - SCALE.md r13); ADC scoring one Arrow stage with per-query cell masks, census from the read slice only.",
    "q238_streaming_pq_index": "Streaming PQ-index ingest, r13: the bootstrap-frozen constants (dense codebook array + standing-query ADC LUT) are computed ONCE per stream (bootstrap_index) instead of re-collected per trigger; per batch ONE encode Arrow stage + anti-joined code append (8 bytes/vec state), retrieval = pq_adc_shortlist over the file-list-pinned post-append snapshot with the precomputed LUT. Per-trigger cost O(batch encode + store scan); the store scan is the honest linear residue of exact-membership retrieval - IVF routing over cells is the sublinear path (q240).",
    "q236_streaming_substr_excise": "Streaming excision twin: q230's per-batch judge unchanged (window projection + posexplode, gh-keyed count, shuffle_hash join vs the file-list-pinned gram state, anti-joined append), then q231's excision tail per batch (interval merge + per-doc collect_list + ONE HOF projection over the batch's token arrays). Per-trigger cost O(batch + state read); output stream = the repaired corpus at arrival.",
    "q237_curated_corpus": "Curated-corpus composition, r13 shape: the gates evaluate with the tokenization BOUND ONCE (text.gopher_gate — the AND-of-gates form re-split the text per sub-expression after filter pushdown inlined the alias; 12.9 s -> 1.6 s at sf0.1); the gate+dedup survivors materialize ONCE (lazy localCheckpoint — the subtree was recomputed 4x, 20 -> 10 Exchanges); lang rides the excision passthrough (join-back gone); excision is q231's hashed materialized-once machinery. Gates -> dedup -> excision order pinned by the oracle.",
    "q235_ivf_pq_rerank": "IVF-PQ composed ANN: q228's broadcast centroid routing, PQ codes carrying their cell label THROUGH the encode Arrow stage (no corpus join-back), per-query LUT + bounded routing dict broadcast into ONE Arrow scoring stage that touches only routed-cell rows, global shortlist window over <=shortlist*P*|Q| local rows, exact rerank of <=32 raw vectors/query; n_candidates from the ncells-row census, never a second code scan. The cell-exact recall leg is the linear residue (as in q228).",
    "q234_quantile_sketch_audit": "Quantile sketch ON-DEMAND audit (round-12 split): q217's 2 build passes plus the validation legs — exact percentile_disc, the full-data rank census, and the merge pin's shared parity census/filter pair (3 extra corpus passes, deliberately priced here, not in the production query); 1-row scalar crossJoins stitch summary, exact, rank and merge-pin legs; both rank-error booleans are pure integer math.",
    "q218_streaming_kmv": "Streaming KMV distinct: three accept_batch steps, each ONE broadcast kth-threshold filter over the batch hashes + one bounded anti-join append into the entered-bottom-k state (<= k rows per batch worst case, k(1+ln(n/k)) expected) + a TakeOrdered over the tiny state; stream-over-slices == batch bottom-k over the prefix EXACTLY, full value-hash oracle (the q215 pattern).",
    "q219_streaming_cms": "Streaming CMS: three accept_batch steps, each re-summing the batch counters into the newest complete GENERATION (<= d*w = 32768 rows, parquet _SUCCESS = visibility, replay rewrites its generation identically); per-batch probe estimates broadcast-join the bounded counter table; stream == batch re-sum over the prefix EXACTLY, full value oracle + est>=true + integer bound.",
    "q212_jpeg_lossless": "Lossless JPEG (SOF3) contract: q210's Arrow-map shape over the doc_id%7==2 slice (the last free seventh), zero joins; three per-row Annex-H predictive encode/decode round-trips (8-bit RGB pred 4, 12-bit gray pred 7, 16-bit gray pred 1 + restarts) are byte-EXACT by construction — the one JPEG mode where the contract is equality, not an error floor — and sof3_stream/compressed_smaller are read from the emitted bytes via the real marker walk.",
    "q208_flac_depths": "q195's fan-out Arrow-map shape at the OTHER two whole-byte FLAC widths: an 8-bit mono sawtooth and a 24-bit stereo pair of closed-form linear signals encode/decode at native width (STREAMINFO MD5 over 1-/3-byte LE PCM, side channel at bps+1=25 bits, width-generic Rice/fixed machinery); lossless, so exact position-weighted per-channel stats recompute in SQL, and compressed_smaller pins real compression at both widths; one 8-byte-row doc-id shuffle, zero joins.",
    "q207_png_subbyte": "q189's shape (ONE Arrow map stage, zero shuffles, zero joins) over the sub-byte tier: 1/2/4-bit gray + palette profiles (MSB-first packed scanlines, byte-padded rows, filters at bpp=1, Adam7 passes packed independently, d=4 palette interlaced) — lossless, so the oracle recomputes every decoded value from the closed forms; one wrong bit in pack/unfilter/unpack/scatter fails the value hash.",
    "q204_jpeg_progressive": "q188's shape (ONE fan-out Arrow map, zero shuffles beyond the 8-byte doc-id fan-out, zero joins) over the progressive path: SOF2 encode (libjpeg 10-scan spectral-selection + successive-approximation script, 4:2:0, per-scan RSTn) -> multi-scan decode (DC/AC first+refine, cross-block EOB runs, non-interleaved component grids); the contract is byte-equality of progressive vs baseline decodes (same quantized coefficients, different entropy order) plus scan-script-reorder invariance — stronger than a lossy bound.",
    "q203_robots_decisions": "ONE fan-out Arrow map, zero joins: per-site robots.txt bodies (deterministic from doc_id%40) are parsed ONCE per site cohort (memoized in the map stage — the amortization a billion-row decision join needs) and each doc's (agent, path) gets an RFC 9309 decision: longest-match precedence with the longer Allow /doc/*0$ overriding Disallow /doc/ exactly on ids ending in 0, specific-group selection stopping fallthrough to '*', per-group crawl-delay; the oracle recomputes every decision from the rule construction.",
    "q202_url_normalize": "ONE whole-stage-codegen projection, zero Python, zero shuffles: deterministic URLs built per row by Catalyst concat exercise the hazard matrix (mixed case, WWW., multi-part TLDs, trailing-dot host, explicit vs scheme-default ports, percent escapes, fragments), then functions/urls.py's pure-expression normalizers extract scheme/host/port/registrable-domain/decoded-path/param/fragment; the oracle applies the SAME policy in DuckDB, pinning cross-engine Java-regex-vs-RE2 parity — the actual risk of expression-based URL work at crawl scale.",
    "q201_warc_stream_ingest": "q196's STREAMING twin: executors pack the corpus into real .warc.gz shard files (rename-to-final so the file source never sees partials), a checkpointed binaryFile stream tails the directory (availableNow) and parses each shard through the same sources/warc.py machinery (shard identity read from the in-band warcinfo record, not the file name), appending facts to a parquet sink the returned frame reads — so the driver hashes the streamed state itself against q196's exact SQL (full value-hash oracle for a streaming query); restart incrementality pinned by tests/test_streaming_shards.py.",
    "q200_cc_pipeline": "END-TO-END composition of q196+q199 (stages that pass unit contracts can still lose bytes at the seams): ONE keyed shuffle into 1024-doc shards -> per-shard applyInPandas (HTML pages -> real .warc.gz build -> ingest-path parse -> real HTML tokenizer -> RAW extracted text out) -> a declarative JVM projection computes every downstream fact (split/size/md5 Catalyst expressions, whole-stage codegen); zero joins; body_md5 vs a from-the-table SQL reconstruction fails on a byte lost at ANY seam (warc framing, gzip, http parse, tag tokenizer); at 100 TB this IS the ingest DAG with the build half replaced by a binaryFile scan.",
    "q199_html_extract": "ONE fan-out Arrow map stage (doc text -> generative HTML page loaded with extractor hazards: entities in title+body, style body with a bare '>', quoted attrs containing '>', href-less decoy anchors, script bodies containing literal '</p>' -> real single-pass tag tokenizer -> extracted-text facts); zero joins; body_md5 hashes the EXTRACTED text against a token-for-token SQL reconstruction, so one leaked script byte or fused block line fails the hash; at 100 TB this runs over q196's parsed WARC payloads.",
    "q198_wds_tar_ingest": "q196's shard shape for the WebDataset layout: ONE keyed shuffle into 1024-doc shards -> per-shard applyInPandas builds a POSIX-ustar tar (spec-built headers: octal fields, space-summed checksums; NOT the tarfile module, but two-way stdlib-tarfile interop is test-pinned) with adjacent {key}.json+{key}.txt members per sample, then parses it back (checksum verify, bounds checks, adjacency-enforced sample grouping); zero joins; txt_md5/meta_lang/meta_n_chars pin byte-exact member recovery AND JSON sidecar parsing, sample_index pins grouping and walk order.",
    "q196_warc_ingest": "ONE keyed shuffle of (doc_id, text) into 1024-doc shards -> per-shard applyInPandas builds a Common-Crawl-layout .warc.gz (one gzip member PER record, leading warcinfo) and parses it back through the real ingest path (gzip member walk w/ CRC verify, WARC header/Content-Length/closing-CRLF validation, HTTP status+header+payload extraction); zero joins; payload_md5 pins byte-exact payload recovery against DuckDB's md5(text), rec_index pins member-split count and walk order; shard COUNT scales with the corpus (bounded per-shard work), and at 100 TB the build half disappears — shards already exist as binary files and the parse half maps over them.",
    "q195_flac_codec": "ONE Arrow map stage (closed-form PCM -> real FLAC encode (vectorized Rice/partition-order planner: one (15,n) shift matrix + reduceat at the finest order, coarser orders pairwise-folded; cost-chosen stereo decorrelation) -> decode w/ CRC-8/CRC-16/MD5 verification -> exact per-channel stats) fed by ONE tiny doc-id fan-out shuffle (8-byte rows; FLAC at ~5 ms/doc is the heaviest per-row codec, and the audit corpus is a single parquet file = one scan partition — without the fan-out the stage runs on one core); zero joins; wsum_amp position-weights samples so frame-reassembly order bugs fail the hash, and compressed_smaller pins real compression (TRUE on structured signals, FALSE on hash noise).",
    "q186_snapshot_vacuum": "Four snapshot writes + vacuum (driver-side FS metadata ops — commit record deleted atomically before its data dir) + two pruned single-version reads; the audit row is driver-built, the only scans are the two read-backs.",
    "q185_semantic_dedup": "SemDeDup shape: the pair join keys on the CELL (equi-join), bounding the quadratic term by cell size; cells that outgrow exact_cell_limit auto-switch candidates to within-cell sign-LSH (probe-verified x1.06 wall for x100 data); norms precompute before the join multiplies rows; the drop set distincts and left-joins back.",
    "q184_wav_container": "Two chained Arrow map stages (wrap PCM16 in real RIFF/WAVE, chunk-walk decode + stats) — zero shuffles, the q166 shape with genuine container parsing in the middle.",
    "q183_png_codec": "Two chained Arrow map stages (encode real PNGs, inflate+unfilter+stats) — zero shuffles, zero joins, q71's embarrassingly-parallel shape with a genuinely compressed wire format in the middle; at 100 TB the encode stage is replaced by a binary-column scan.",
    "q182_snapshot_drift_gate": "Cross-snapshot release gate: ONE aggregate scan per snapshot (all drift rules share it — count, null counts, distinct via the Expand rewrite), then 1-row×1-row arithmetic; drift ppm in exact DECIMAL(38,0) cross-products with one integral division, so verdicts are partition-order-free.",
    "q221_theta_set_ops": "Theta set-operation audit: both bottom-k sketches build with q213's shape (per-partition k-capped minima in one Arrow stage, k·P candidate rows to a TakeOrdered), then ALL set algebra happens on two 1-row arrays — sub-theta filter/intersect/except are array expressions, estimates are int64 DIV. The only corpus-shuffling legs are the audit-only exact intersection/union; at 100 TB the operator itself moves two <=k arrays.",
    "q222_streaming_quantile": "Streaming quantile sketch: three accept_batch steps, each ONE <=49-level census groupBy (map-side combined) + a broadcast semantic-cutoff filter over <=cap state rows + the batch scan, publishing cmsfreq-style generations (replay rewrites identically, _SUCCESS = visibility); gen-b == batch quantile_sketch(prefix) row-for-row, so each per-batch summary replays in SQL — full value oracle for stateful streaming quantiles.",
    "q223_int8_ann": "Int8-quantized ANN audit: quantization is a whole-stage-codegen array projection (floor over IEEE doubles, no Python), scoring is q24's broadcast shape with exact int64 dot products and one correctly-rounded divide+sqrt as the rank key — the retrieval RESULT (not just its quality band) is engine-deterministic; the float exact-cosine leg is the audit, the int8 pass is the 100 TB path (4x smaller vectors).",
    "q224_pq_ann": "PQ ANN audit: encode = one broadcast codebook join + rank-1 window per (id, sub); ADC scoring reads ONLY codes + a per-query broadcast 8x64 LUT with a fixed-order fold over subspaces (never a float groupBy-sum); shortlist top-50 -> exact-cosine rerank touches 50 raw vectors per query. At 100 TB retrieval scans 8-byte codes, not 256-byte vectors — the raw corpus stays cold.",
    "q226_substring_dedup": "Exact substring dedup, r13 head: overlapping 10-token windows materialize in the scan projection (transform over sequence) and posexplode, immediately reduced to (id, n_tokens, pos, xxhash64(window)) and lazily checkpointed ONCE; ONE shuffle on the 8-byte window hash for global occurrence counts (map-side combine), one join back keyed the same way (pinned shuffle_hash), then a per-doc window sort for the lag()-based interval merge — linear in total tokens, no pairwise join, no suffix array. Oracle still groups window strings; 3-SF sweeps pin equality.",
    "q227_bpe_train": "BPE trainer: one corpus pass for the word census (explode + count shuffle), localCheckpoint bounds the vocab lineage; each of the 8 driver-loop iterations is a pair-explode + keyed sum over the DISTINCT-WORD table (vocab-sized, not corpus-sized) + a 1-row collect + a pure replace() projection. The corpus is touched exactly once.",
    "q228_ivf_int8_rerank": "Composed ANN, r13: the cell label rides the quantize_int8 scan projection (the corpus self-join on id that re-attached it is gone — 2 fewer exchanges); centroid build is q26's bounded posexplode agg; routing joins the tiny centroid table broadcast; quantized scoring joins corpus cells to the BROADCAST routed-query table on cell id (only routed cells scanned); shortlist + n_candidates share one per-query window; exact rerank touches <=32 raw vectors per query. Audit legs (cell-exact, global brute force) are the linear residue.",
    "q229_bpe_segment_census": "q227's trainer loop (one corpus census + 8 vocab-sized rounds) plus one more vocab-sized symbol explode + keyed sum; the top-20 window runs over the bounded symbol census. Corpus touched exactly once.",
    "q230_streaming_substr_dedup": "Streaming substring dedup: per batch one window projection + posexplode, a gh-keyed count, a shuffle_hash join against the prior-gram state (pinned call-time file list - the round-11 snapshot-reuse fix), the shared interval merge, and an anti-joined state append. Per-trigger cost O(batch + state read).",
}

# Queries where a BroadcastNestedLoopJoin is the intended shape, with
# the justification rendered instead of a warning.
EXPECTED_BNLJ = {
    "q216_cms_frequency": "the BNLJ is the 1-row total-token scalar stitched onto the 13 probe rows - the q61/q93 scalar pattern.",
    "q213_kmv_distinct": "both BNLJs are 1-row x 1-row crossJoins stitching the direct sketch, merged sketch, and exact-count scalars - the q179 pattern, one row per side.",
    "q217_quantile_sketch": "the one BNLJ is the <=49-row level-census cutoff broadcasting into the sample filter scan - the q213 scalar pattern.",
    "q240_streaming_ivf_pq_index": "the BNLJs are the batch x ncells centroid cross joins of the cell-assignment/routing stages (ncells-row broadcast build side - the q228 routing idiom, bounded) per micro-batch.",
    "q238_streaming_pq_index": "the BNLJs are the 1-row n_indexed store-size scalar crossJoined into every output row per batch - the q213 scalar-stitch pattern, once per micro-batch.",
    "q235_ivf_pq_rerank": "the BNLJs are the query->centroid routing table (|queries| x |cells|, both tiny), the cell-exact recall leg's routed cross, and the 1-row corpus-count / recall-total scalars stitched into the flags - the q228 pattern; ADC scoring itself is the Arrow stage, not a join.",
    "q234_quantile_sketch_audit": "every BNLJ is a scalar stitch: the <=49-row level-census cutoff broadcasting into the sample filter (twice more for the merge halves/union), the 1-row summary broadcast into the rank scan, and the 1-row x 1-row crossJoins assembling the final row - the q213 pattern.",
    "q218_streaming_kmv": "the BNLJ is the 1-row kth-threshold scalar broadcast into each batch hash filter - the q213 scalar pattern.",
    "q219_streaming_cms": "the BNLJs are the 1-row n_prefix scalar stitched onto the 4 probe rows per slice - the q216 scalar pattern.",
    "q214_bloom_seen_set": "the BNLJ is the 1-row bits_set scalar stitched onto the 1-row probe aggregate - the q61/q93 scalar pattern.",
    "q221_theta_set_ops": "every BNLJ is a 1-row x 1-row crossJoin stitching the two sketch arrays and the exact-audit scalars - the q213 pattern; the set algebra itself is array expressions on one row.",
    "q222_streaming_quantile": "the BNLJs are the 1-row semantic-cutoff and clamp scalars broadcast into each batch's <=cap-row state filter - the q217 scalar pattern, once per micro-batch.",
    "q223_int8_ann": "the BNLJ is q24's brute-force semantics (10-query set broadcast against the streaming corpus with a != condition); the int8 scorer exists to make exactly this pass cheap at scale.",
    "q224_pq_ann": "the BNLJs are the per-query 8x64 LUT broadcast fanned onto the code scan (a scalar-table fan-out, not a pairing) and q24's broadcast audit leg; the candidate scoring never touches raw vectors.",
    "q228_ivf_int8_rerank": "the BNLJs are the query->centroid routing table (|queries| x |cells|, both tiny), q24's brute-force GLOBAL audit leg (reported unpinned), and the 1-row corpus-count scalar stitched into pruned_ok - the production scoring join is the cell-keyed broadcast hash join over routed cells only.",
    "q24_embedding_topk": "BNLJ is the semantics here: brute-force = score EVERY (query, corpus) pair; the broadcast side is the small query set, the corpus streams. The scale path is q26.",
    "q98_knn_label_vote": "the BNLJ is q24's brute-force scorer (small query set broadcast against the streaming corpus); swap in ivf_topk for web scale — the vote stage is scorer-agnostic.",
    "q26_ivf_topk": "the BNLJ is only the query→centroid routing table (|queries| × |cells|, both tiny); the corpus-sized scoring join is the cell-keyed BroadcastHashJoin.",
    "q61_sales_opportunity": "the BNLJ is the 1-row scalar-stats broadcast (the Q22 scalar subquery); every probe row pairs with exactly one build row.",
    "q46_tfidf_topk": "the BNLJ is the 1-row corpus-size broadcast (n_docs scalar) joined onto every (source, term) — a scalar fan-out, not a quadratic pairing.",
    "q93_important_stock": "the BNLJ is the 1-row total-value broadcast (the Q11 HAVING scalar); every per-part row pairs with exactly one build row.",
    "q95_domain_mixture": "the BNLJ is the 1-row totals broadcast (token total + group count) fanned onto the ~|sources×langs| mixture rows.",
    "q179_expectations_audit": "the two BNLJs are 1-row×1-row crossJoins stitching each keyed rule's violation count to its n_checked scalar — bounded by construction, one row per side.",
    "q111_zorder_key": "the BNLJ is the 1-row min/max stats broadcast fanned onto every event row — the scalar-stats pattern (q61/q93), not a pairing.",
    "q112_histogram": "the BNLJ is the 1-row min/max broadcast fanned onto every order row — scalar stats, not a pairing.",
    "q113_approx_percentile_contract": "the BNLJ is the 2-row percentile-targets broadcast measured against the scan — a bounded fan-out for the rank audit.",
    "q114_key_skew_profile": "all BNLJs are 1-row scalar-stat recombinations (totals/top-10/entropy legs) — the q61/q93 pattern.",
    "q117_funnel": "all BNLJs are 1-row stage-count recombinations — the q61/q93 scalar pattern.",
    "q122_pmi_collocations": "the BNLJ is the 1-row (n_uni, n_bg) totals broadcast fanned onto the filtered bigram set — the q46 scalar pattern.",
    "q123_inverted_index": "the BNLJ is the 1-row n_docs broadcast fanned onto per-term rows — q46's scalar idf pattern.",
    "q127_equidepth_bins": "the BNLJ is the 1-row decile-bounds broadcast fanned onto every order row — the q112 scalar-stats pattern.",
    "q131_sample_allocation": "both BNLJs are 1-row scalar broadcasts (token total; leftover seat count) onto the bounded stratum table.",
    "q126_unigram_lm_score": "the BNLJ is the 1-row corpus-token-total broadcast fanned onto the per-token join — the q46 scalar pattern.",
    "q132_source_divergence": "the BNLJ is the 1-row corpus-total broadcast fanned onto the (source,term) join — the q46 scalar pattern.",
    "q136_market_basket": "the BNLJ is the 1-row n_orders broadcast fanned onto the support-cut pair set — the q46 scalar pattern.",
    "q144_rfm_segmentation": "the BNLJ is the 1-row nine-boundary broadcast fanned onto per-customer rows — the q127/q112 scalar-stats pattern.",
    "q146_chisq_contingency": "the BNLJ is the 1-row grand-total broadcast fanned onto the bounded cell table — the q61/q93 scalar pattern.",
    "q147_pareto_deciles": "both BNLJs are 1-row scalar broadcasts (decile bounds; revenue total) — the q127 pattern.",
    "q151_padding_waste": "the BNLJ is the 1-row padded-total broadcast onto the bounded bin table — the q46 scalar pattern.",
    "q37_setops": "the BNLJ is the 1-row×1-row crossJoin stitching the intersect count to the except count — bounded by construction.",
    "q102_hll_mergeable": "the BNLJ is the 1-row×1-row crossJoin of the merged-sketch row with the direct-sketch row — the contract comparison, bounded by construction.",
    "q23_token_jaccard_bruteforce_check": "the BNLJ IS the semantics: all-pairs exact Jaccard, mechanically guarded above ~10⁴ docs; q21 is the scale path.",
    "q25_embedding_neardup_bruteforce_check": "the BNLJ IS the semantics: all-pairs exact cosine, mechanically guarded above ~10⁴ vectors; q49 is the scale path.",
    "q182_snapshot_drift_gate": "all three BNLJs are the 1-row×1-row crossJoin of the base snapshot's metric row with the current snapshot's — bounded by construction, one row per side per rule.",
}


def audit(name: str, plan: str) -> list[str]:  # noqa: C901
    lines = []
    scans = re.findall(r"\(\d+\) Scan parquet.*?(?=\n\n)", plan, re.S)
    for s in scans:
        label = "?"
        loc = re.search(r"file:([^\]\s,]*)", s)
        if loc:
            path = loc.group(1).rstrip("/")
            m = re.search(r"/(\w+\.parquet)", path)
            if m:
                label = m.group(1)
            else:
                # temp-dir state scans (snapshots, rollup parts, …):
                # label with the last path segments, mkdtemp suffix
                # normalized so the audit is run-independent
                segs = [g for g in path.split("/") if g]
                tail = segs[-2:] if len(segs) >= 2 else segs
                tail = [re.sub(r"_?[a-z0-9_]{8}$", "_*", t) if re.match(r"^q\d+", t) else t for t in tail]
                label = "/".join(tail)
        rs = re.search(r"ReadSchema: struct<([^\n]*)", s)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", s)
        ncols = len(rs.group(1).split(",")) if rs and rs.group(1) else 0
        lines.append(
            f"  - scan `{label}`: {ncols} cols read"
            + (f", pushed: `{pf.group(1)}`" if pf and pf.group(1) else "")
        )
    joins = re.findall(r"(BroadcastHashJoin \w+|SortMergeJoin \w+|BroadcastNestedLoopJoin \w+|ShuffledHashJoin \w+)", plan)
    if joins:
        from collections import Counter

        jc = Counter(joins)
        lines.append("  - joins: " + ", ".join(f"{k} ×{v}" for k, v in sorted(jc.items())))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bc = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
    lines.append(f"  - exchanges: {n_ex} shuffle, {n_bc} broadcast")
    n_imts = len(re.findall(r"InMemoryTableScan", plan))
    if n_imts:
        lines.append(
            f"  - cache: {n_imts} InMemoryTableScan refs of a persisted "
            "intermediate (its source scan executes ONCE at materialization)"
        )
    if "BroadcastNestedLoopJoin" in plan:
        if name in EXPECTED_BNLJ:
            lines.append(f"  - nested loop (intended): {EXPECTED_BNLJ[name]}")
        else:
            lines.append("  - ⚠ UNEXPECTED nested-loop join — fix or justify")
    return lines


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan audit of the headline suite",
        "",
        f"Generated by `tools/plan_audit.py` at sf0.01 ({SF_DIR}),",
        "`spark.sql.shuffle.partitions=32`, AQE on. For each query:",
        "what the scan actually reads (column pruning + pushed filters),",
        "the join strategies Catalyst picked, the exchange count, and",
        "why that shape survives a 100 TB / 1000-executor scale-up.",
        "",
    ]
    for name in sorted(NOTES):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # executedPlan before collect is the initial AQE plan; fall back
        # to explain string for the full formatted detail
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"## {name}")
        out.append("")
        out.append(NOTES[name])
        out.append("")
        out.extend(audit(name, plan))
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
