"""Plan-quality budgets for the headline (bench) queries.

`bench.py` catches a plan regression only as a timing drift at sf0.1;
these tests catch it as a structural diff at sf0.001 — per-query shuffle
budgets, broadcast expectations for the dimension joins, scan pruning and
filter pushdown for the TPC-H trio, and two repo-wide guards (no
row-at-a-time Python eval anywhere; no single-partition funnel in any
headline or extended plan). Budgets are the measured values of the plans we WANT
(see the shuffle-count rationale in each operator's docstring), so a new
Exchange — e.g. a lost partitioning reuse between a window and the
groupBy above it — fails here, not in the benchmark.
"""

from __future__ import annotations

import pytest

from etlutil_spark.plans import inspect as P
from etlutil_spark.queries import QUERIES

# name -> (max shuffle exchanges, min broadcast exchanges)
HEADLINE_BUDGETS = {
    "q1_pricing_summary": (1, 0),
    "q3_top_orders": (1, 2),  # customer + orders dims broadcast
    "q5_region_revenue": (1, 5),  # full dim chain broadcast
    "top_customers_per_segment": (1, 0),
    "events_monthly": (1, 0),
    "events_weekly_buckets": (2, 0),
    "events_backfill_chunks": (1, 0),
    "events_tumbling_hourly": (1, 0),
    "sessionize_users": (1, 0),  # window + groupBy share user_id hash
    "docs_token_stats": (1, 0),
    "dedup_exact": (1, 0),
    # warm MinHash-store read: the verified-pair scan with jaccard>=0.6
    # pushed — zero shuffles (the one-time build pays banding + verify)
    "dedup_minhash_lsh": (0, 0),
    "sim_topk_bruteforce": (1, 0),  # TakeOrderedAndProject, no global sort
    "knn_join_topk": (3, 1),
    "docs_contamination": (5, 1),  # eval shingles broadcast to train side
    "docs_pack_token_budget": (1, 0),
    "asof_purchase_attribution": (1, 0),  # union-marker single shuffle
    "scd2_apply_incremental": (2, 1),  # r12: custkey-aligned head — one visible exchange (rebuild) + batch-key broadcasts
    "kmv_distinct_events": (2, 0),
    # extended bench set (bench.py EXTENDED) — same invariants
    "sessionize_users_salted": (2, 0),  # day-salt window + stitch window
    "corpus_pipeline_e2e": (2, 0),  # dedup-by-text + pack-by-lang
    "orders_price_quartiles": (2, 1),  # range repartition + rank offsets
    "dedup_embedding_lsh": (2, 1),
    "dedup_simhash": (1, 1),  # r12: pinned fingerprint table — one pair-dedup exchange left
    "sim_ivf_topk": (0, 0),  # partition-pruned store probe: zero shuffles
    "events_hopping_counts": (1, 0),
    "events_session_window_30m": (1, 0),
    "events_value_outliers": (1, 1),  # broadcast moments join
    # r13: no Expand — detail aggregate + three metadata-scale folds
    # of the pinned detail table (see pricing_grouping_sets)
    "pricing_cube": (3, 0),
    "lineitem_rollup_maintenance": (2, 0),
    "orders_monthly_price_rank": (1, 0),
    # r5 additions
    "docs_tfidf_topk": (4, 2),  # tf checkpoint feeds dict + scoring
    "docs_bm25_search": (4, 2),  # query-term filter before the tf agg
    "docs_bigram_topk": (2, 0),  # map-side zip_with, one count shuffle
    "docs_weighted_sample": (1, 0),  # TakeOrderedAndProject top-n
    "orders_open_concurrency": (1, 0),  # one per-key sweep window
    "hll_weekly_users": (2, 0),  # daily sketch + weekly union
    "embeddings_dim_stats": (2, 0),  # posexplode + groupBy(dim)
    "events_rolling_7d": (1, 0),  # one per-user RANGE-frame window
    "lineitem_price_drift": (3, 1),  # bin counts + tiny totals merge
    "purchase_click_pairs": (2, 0),  # key equi-join, time-range refine
    "dedup_screen_new_batch": (3, 3),  # batch bands broadcast vs index
    "docs_token_drift": (4, 1),  # one term-count pass + scalar totals
    # r12: stage frames are lazily checkpointed (computed once, not once
    # per union leg — the old plan re-derived stage k's whole chain per
    # downstream leg with ZERO ReusedExchange). The old min-2-broadcast
    # pin broadcast corpus-proportional per-user frames — a small-SF
    # artifact that OOMs at scale; joins are now shuffle-based. Visible
    # exchanges exclude the 3 stage-aggregate shuffles inside the
    # checkpoint lineage (see tools/profile_queries.py for totals).
    "events_funnel": (3, 0),
    # r12: cohort period rides a per-user window-min over the distinct
    # activity table — no join back, no corpus-proportional broadcast
    "user_retention_weekly": (3, 0),
    "events_transition_matrix": (3, 0),  # user window + matrix agg
    "q4_late_orders": (1, 1),  # EXISTS -> left-semi, year filter pruned
    "q14_promo_share": (2, 1),  # broadcast part; share over 6-row agg
    # late-r5 additions (measured at sf0.001 with AQE final plans)
    "events_user_running_totals": (1, 0),  # one keyed partial+final agg
    "q2_min_cost_supplier": (2, 2),  # brand+supplier broadcast, top-1 pushdown
    "q7_nation_volume": (2, 0),  # dims broadcast; AQE may fold all shuffles
    "q10_returned_items": (1, 3),  # TakeOrderedAndProject, cust+nation bcast
    "q13_customer_distribution": (2, 1),  # outer join + tiny distribution agg
    "q15_top_supplier": (3, 2),  # supplier agg + 1-row max broadcast
    "q16_part_supplier_counts": (2, 1),  # filtered bcast before distinct
    # r12: the brand-filtered fact slice is pinned (scanned once); the
    # part-filter broadcast now lives inside the checkpoint lineage, so
    # only the per-part-avg broadcast is visible
    "q17_small_quantity": (3, 1),
    "q19_disjunctive_revenue": (1, 1),  # OR extraction onto bcast part side
    "q22_idle_customers": (2, 3),  # scalar threshold + anti-join + nation
    "docs_mixture_sample": (1, 1),  # literal rates broadcast + kept agg
    "docs_quality_model": (0, 0),  # pure shuffle-free projection
    "sim_topk_filtered": (1, 0),  # TakeOrderedAndProject after label filter
    "sim_ann_recall": (2, 1),  # two top-k heaps + 10x10 semi-join
    "embeddings_quantize_err": (2, 1),  # dim stats broadcast to error pass
    "q8_market_share": (1, 4),  # full dim chain broadcast, one-pass share
    "q21_waiting_suppliers": (2, 3),  # r12: window over the join's l_orderkey partitioning — no join-back, no re-derived fact subtree
    "sim_quantized_rerank": (1, 1),  # codegen decode + candidate broadcast
    "events_type_affinity_daily": (4, 3),  # r12: base AND singles pinned (one aggregate pass serves both lift legs)
    "orders_decayed_revenue": (1, 1),  # map-side weights, customer bcast
    "docs_chunks": (0, 0),  # tokenize + sequence + posexplode, zero shuffle
    "docs_negative_pairs": (1, 2),  # 1-row max bcast + existence semi-join
    "docs_split_leakage": (4, 1),  # fp agg + join-back reuse + split agg
    "docs_lm_score": (6, 3),  # r12: prefix counts fold the bigram-count table (no 2nd stream pass); model merged pre-join (+1 small exchange)
    "docs_fertility_by_lang": (1, 0),  # one scan, one lang-keyed aggregate
    "docs_shard_plan": (1, 0),  # map-side shard id + 16-group aggregate
    # r6 additions: the four remaining TPC-H plan shapes
    "q9_product_profit": (3, 2),  # star: all dims broadcast, orders keyed join
    # checkpointed per-part agg hides the dim broadcasts; the visible one
    # is the 1-row threshold broadcast
    "q11_important_stock": (3, 1),
    "q12_shipmode_priority": (3, 0),  # one joined pass, conditional sums
    "q20_potential_promotion": (3, 2),  # agg -> qualifying-set semi-join chain
    # min-struct winners agg + id-keyed rebuild/totals join; no hot-key window
    "dedup_paragraphs": (4, 0),
    # eval distinct + bitset build + candidate verify join + doc agg
    "docs_contamination_bloom": (5, 2),
    # eval bcast match + position distinct + doc agg + totals join
    "docs_contamination_coverage": (4, 2),
    "docs_gopher_filter": (0, 0),  # tokenize-once map-side rules, no shuffle
    "events_debounce": (3, 1),  # user window + two type aggs, tiny bcast join
    # prefix census agg + tiny boiler broadcast + source summary agg
    "docs_strip_boilerplate": (4, 1),
    "multimodal_header_parse": (0, 0),  # map-side build + Arrow parse
    # five 1-row audit aggregates over broadcast-parent left joins;
    # r13: each parent side is its DISTINCT key projection (the group-fold
    # row-multiplication guard) — +1 tiny dim-sized exchange per parent,
    # bought deliberately: existence semantics made structurally safe, and
    # at fact scale the distinct's hashpartitioning is reused by the join
    "audit_fk_orphans": (8, 4),
    "docs_source_report": (3, 0),  # tokenize-once scan + source agg
    # late-r6: final assignment is scan -> project, centroids are literals
    "embeddings_kmeans": (0, 0),
    # median agg + MAD agg + final count agg; two broadcast summary joins
    # r12: single collect-sorted-array aggregate — no joins left at all
    # (was 3 shuffles + 2 broadcast summary joins)
    "events_value_mad_outliers": (1, 0),
    # single global aggregate -> 6-row unpivot
    "lineitem_corr_matrix": (1, 0),
    # spread-the-scan repartition + score + per-phase agg (cut points
    # collected as literals)
    "docs_curriculum": (2, 0),
    # one per-language aggregate + literal arithmetic
    "docs_mixture_epoch_plan": (1, 0),
    # pure regex/array projection
    "docs_url_normalize": (0, 0),
    # hourly count agg + trailing-baseline window over the collapsed series
    "events_hourly_anomaly": (2, 0),
    # r13: served from the cluster store's v2 pairs table — one pruned
    # parquet scan, containment derived from the stored (n_common, n_a,
    # n_b); zero shuffles, zero broadcasts (the store build pays the
    # capped self-join once)
    "dedup_containment": (0, 0),
    # one scan + one source-keyed aggregate
    "docs_pii_report": (1, 0),
    # url + quality projection, one domain-keyed aggregate
    "docs_domain_quality": (1, 0),
    # map-side canonicalization + one url-keyed aggregate
    "docs_dedup_url": (1, 0),
    # spread-the-scan repartition + trigram explode + count agg + rank
    # window over aggregated counts
    "docs_ngram_topk_per_lang": (3, 0),
    # user-day distinct + three per-day aggregates + day joins; 6 of the
    # counted exchanges are ReusedExchange (the collapsed user-day table
    # is computed ONCE and reused — exchange_count includes reuse nodes)
    "events_dau_wau_mau": (11, 2),
    # range repartition (exact ntile) + rank offsets + shard extents agg
    "orders_zorder_extents": (3, 1),
    # scan -> literal-centroid project -> probe filter -> TakeOrdered
    "sim_ivf_kmeans_topk": (0, 0),
    # id-keyed label join + (cluster,label) counts reused by majority
    # window and totals agg (ReusedExchange counted)
    "embeddings_cluster_purity": (7, 1),
    # cell-keyed self-join (AQE broadcasts) + near-count agg + id join
    "embeddings_semdedup": (2, 2),
    # serving plan: scan -> literal codebook/table project -> TakeOrdered
    "sim_pq_adc_topk": (0, 0),
    # keyed count agg + 1-row totals broadcast + top-n rank over 20 rows
    "events_user_skew_report": (3, 1),
    # r6 session-3 additions
    # visible plan = customer agg + rank-offset bcast join + segment agg;
    # the three exact_ntile range repartitions sit behind checkpoints
    "orders_rfm_segments": (3, 1),
    # one basket-keyed collect_set + map-side pair explode + pair agg +
    # item/scalar aggs off the same checkpointed sets
    "lineitem_basket_rules": (4, 2),
    # serving plan = final rank scan + outw broadcast join; each PageRank
    # superstep materialized behind an eager checkpoint (kmeans pattern)
    "events_pagerank": (1, 1),
    # (doc,bucket) agg + two bucket aggs off one checkpointed subtree +
    # 256-row log-ratio broadcast + per-doc agg
    "docs_dsir_weights": (5, 2),
    # spread-the-scan repartition + vocab agg + weighted pair agg; top-20
    # is TakeOrderedAndProject
    "docs_bpe_pair_merge": (3, 0),
    # customer-key cohort window + (cohort,offset) agg + cumulative window
    # over the collapsed aggregate
    "orders_cohort_ltv": (3, 0),
    # per-user lag window + one type-keyed percentile aggregate
    "events_inter_arrival_profile": (2, 0),
    # month agg is the only data pass; index window + moment aggregate run
    # on the ~80-row monthly series (scalar exemption)
    "orders_revenue_trend": (3, 0),
    # metadata projection + map-side explode: zero shuffles
    "multimodal_frame_plan": (0, 0),
    # map-side shingle hashes + hash-keyed dup agg + per-doc sweep window;
    # AQE folds the small dup-hash/coverage joins to broadcasts at test SF
    "docs_dup_span_fraction": (3, 2),
    # score projection + ntile range repartition (offsets broadcast) +
    # decile aggregate
    "docs_quality_deciles": (2, 1),
    # part agg + cumsum range repartition (offsets broadcast) + 1-row
    # total broadcast + class aggregate
    "lineitem_abc_classes": (4, 2),
    # date-keyed aggregate; totals window runs over the 7-row dow table
    "orders_dow_seasonality": (3, 0),
    # user-keyed conditional-min agg + 1-row latency summary
    "events_time_to_convert": (2, 0),
    # tokenize-once scoring + matrix agg + per-label share window
    "docs_lang_confusion": (3, 0),
    # running-max range repartition (prefix offsets broadcast) + bucket agg
    "events_lateness_profile": (2, 1),
    # one orderkey join (AQE broadcasts at test SF) + priority aggregate
    "orders_ship_lag_by_priority": (1, 1),
    # token-count agg + source totals broadcast + per-source entropy agg
    # r12: per-source totals ride a window over the token-count table —
    # the totals aggregate + broadcast join (and the second tokenize
    # pass feeding it) are gone
    "docs_entropy_by_source": (3, 0),
    # distinct user-day + islands window + two aggregates on one user key
    "user_activity_streaks": (3, 0),
    # day agg is the data pass; totals + cumulative windows over the
    # tens-of-rows daily series
    "events_changepoint_cusum": (2, 0),
    # r6 session-4 additions
    # per-price reduce is the data pass; frontier sweep over distinct
    # prices, tiny frontier broadcast back to recover part keys
    "part_skyline": (2, 1),
    # digit agg is the data pass; share window over the 9-digit table
    "orders_benford": (2, 0),
    # (type,user) count agg + type-keyed rank window reuse + final agg
    "events_gini_by_type": (2, 0),
    # four 1-row per-relation conditional aggregates, stack-unpivoted
    "audit_value_ranges": (4, 0),
    # daily count agg is the data pass; trailing-window self-join over the
    # collapsed daily series (AQE broadcasts the small side)
    "events_ewma_daily": (3, 1),
    # user-keyed purchase-touch join + per-purchase count window + type agg
    "events_multitouch_attribution": (2, 1),
    # sessionize windows + path aggs share the user hash; top-10 is
    # TakeOrderedAndProject
    "events_session_paths": (2, 0),
    # block-key equi-join with broadcast frequency cap; verify is a filter
    "dedup_fuzzy_edit": (2, 2),
    # map-side hash sample on the dim + one fact join + segment agg
    "sample_correlated_join": (2, 1),
    # r13: no Expand — one exact-DECIMAL detail aggregate over the
    # corpus, both margins fold the pinned 6-row detail (the second
    # exchange is metadata-scale)
    "pricing_grouping_sets": (2, 0),
    # token first-occurrence agg is the data pass; per-source ntile window
    # + two 4-rows-per-source aggregates joined back
    "docs_vocab_growth": (6, 2),
    # per-user reduce + 1-row arm-totals scalar aggregate
    "events_ab_test_summary": (2, 0),
    # encode path is literal-replace map-side exprs; the returned plan
    # is the ensure_min_partitions scan spread + one source-keyed
    # aggregate (training jobs run at build time over the checkpointed
    # vocab and are not part of this plan)
    "docs_bpe_encode_stats": (2, 0),
    # in-array k-gram hashing/selection (map-side); then three keyed
    # shuffles: doc-keyed window, fp-keyed share count, fp-keyed join
    # back + doc aggregate. The fp-count side may be broadcast by the
    # size-based planners at test SF (stats-driven, self-correcting at
    # scale) but must never be HINTED — pinned by
    # test_winnowing_fp_broadcast_is_stats_driven_not_forced.
    "docs_winnowing": (3, 0),
    # monthly reduce is the data pass; trend/seasonal windows + joins run
    # on the ~80-row monthly series
    "orders_seasonal_decompose": (3, 1),
    # pruned store scan + one type-keyed aggregate
    "io_partition_roundtrip": (1, 0),
    # token count agg is the data pass; rank window + moment aggregate
    # run over the 500-row spectrum head
    "docs_zipf_fit": (1, 0),
    # both snapshots + diff join share one user-keyed partitioning
    # r12: both snapshots ride ONE user-keyed max_by aggregate — the
    # two window sorts and the diff join (whose build was the broadcast)
    # are gone
    "events_snapshot_diff": (2, 0),
    # map-side row digests + one 256-group XOR aggregate
    "lineitem_checksum_blocks": (1, 0),
    # r8: BM25 leg (postings agg + dfreq/stats broadcasts) + TakeOrdered
    # vector leg; fusion join/rank/sort run on <=40 rows (scalar scale)
    "docs_hybrid_search_rrf": (4, 2),
    # r8: distinct-value agg + exact_cumsum range repartition (prefix
    # offsets broadcast) + 1-row closed-form reduction
    "events_mann_whitney": (2, 1),
    # r8: co-bucketed scan-join (zero join-time exchange; pinned hard in
    # test_bucketed_join_reuses_write_distribution) + priority agg; AQE
    # may stats-broadcast the small orders side at test SF
    "orders_bucketed_join_stats": (1, 0),
    # r8: bounded per-order pair join + degree join + oriented wedge
    # join/semi (AQE may broadcast edge legs at test SF) + three 1-row
    # summary aggregates crossJoined (scalar)
    "parts_copurchase_triangles": (10, 0),
    # r8: WAV construct + fixed-offset header parse + chunk explode —
    # pure column expressions, zero shuffles, zero Python
    "multimodal_audio_chunk_plan": (0, 0),
    # r8: codegen regex chain + 60-bit digest, one source-keyed agg
    "docs_pii_redact": (1, 0),
    # r8: two exact_cumsum range repartitions (offsets broadcast) + two
    # batch aggs + three 1-row scalars crossJoined
    "docs_length_batching": (7, 2),
    # r8: source agg broadcast back + global scalar + map-side quantized
    # ln terms; 1-row scalars crossJoined
    "docs_theil_inequality": (8, 3),
    # r8: hour-count agg is the data pass; quantized trig projection +
    # 2-group reduction over the collapsed hourly series
    "events_periodogram": (2, 0),
    # r8: merged two-generation scan + one priority aggregate
    "io_schema_evolution_roundtrip": (1, 0),
    # r8: map-side x100 Poisson-weight explode + 100-group mean agg;
    # rank window + CI picks run over the 100-row resample table
    "orders_bootstrap_ci": (3, 0),
    # r8: serving = scan -> literal cell/code project -> probe filter ->
    # TakeOrdered; training jobs sit behind the driver-side fits
    "sim_ivfadc_topk": (0, 0),
    # r8: one filtered scan -> one 4-group aggregate; 2x2 pivot + DiD
    # arithmetic run on 4 rows (scalar crossJoins)
    "lineitem_discount_did": (1, 4),
    # r8: encode plan = scan spread + vocab-table join (stats-broadcast
    # at test SF) + one source-keyed aggregate; the 32 training rounds
    # and the segmentation table sit behind checkpoints
    "docs_bpe_vocab_encode_stats": (2, 1),
    # serving plan = node-keyed left join of the two checkpointed star
    # tables (nodes x final star edges — both bounded by |V|, AQE
    # stats-broadcasts at test SF); the banding join / candidate verify /
    # large-star/small-star rounds all sit behind localCheckpoints
    # (pagerank/kmeans pattern), each round two keyed shuffles when run
    "dedup_clusters_lsh": (2, 0),  # store pairs scan + CC star rounds
    # literal query-trigram array: map-side scoring + TakeOrdered top-15
    "part_trigram_search": (0, 0),
    # one segment-keyed decimal power-sum aggregate
    "customer_balance_moments": (1, 0),
    # value-keyed count + 1-row closed-form reduction
    "lineitem_quantity_chi2": (2, 0),
    # customer-keyed LEAD window is the data pass; risk/product windows
    # run over the distinct-duration table
    "orders_km_survival": (4, 1),
    # r9: decayed-CMS fold — every round's sketch/estimate sits behind a
    # localCheckpoint; the returned plan scans the final 10-row board
    "events_trending_heavy_hitters": (0, 0),
    # r9: one user-keyed conditional-sum aggregate + 1-row theta scalar
    # + 2-group arm reduce (scalar crossJoin)
    "events_cuped_adjusted": (2, 1),
    # r9: peel rounds behind checkpoints; returned plan = core-edge
    # degree agg + three 1-row census scalars crossJoined
    "parts_copurchase_kcore": (3, 2),
    # r9: four TakeOrdered heaps (full + 3 truncations) + <=10-row
    # broadcast semi joins + 3-row union
    "embeddings_dim_ablation": (5, 1),
    # r9: construct + parse map-side, one (rate, depth) aggregate
    "multimodal_flac_info": (1, 0),
    # r9: lm_score's checkpoint-fed count tables + lang-keyed rank
    # window + bucket reduce (vocabulary scalar broadcast)
    "docs_ccnet_buckets": (7, 4),  # r12: +1 small exchange from lm_score's model merge
    # r9: one quasi-identifier groupBy + literal-k explode reduce +
    # 1-row class-count scalar
    "orders_k_anonymity": (2, 1),
    # r9: four sketch aggregates + two summary-table inner-product joins
    # + exact-truth join + three 1-row scalars crossJoined
    "sketch_join_cardinality": (9, 5),
    # r9: banding candidates + uncapped exact-pair truth (EVAL harness)
    # + semi-join hits + three 1-row scalars crossJoined
    "dedup_minhash_recall": (5, 2),
    # r9: orderkey fact-fact join (AQE may broadcast at test SF) +
    # supplier-keyed conditional-count agg + TakeOrdered heap
    "supplier_late_rate_wilson": (3, 0),
    # r9: ONE (key, ts, tie) shuffle — tombstones ride the run-collapse
    # state struct, deletes add zero plan surface
    "customer_scd2_cdc_deletes": (1, 0),
    # r9: the histogram pass (one bucket-keyed count agg + scalar-scale
    # cumulative walk) sits behind a checkpoint shared by all q-legs;
    # the returned plan is three TakeOrdered picks over that table
    "orders_price_quantile_sketch": (0, 0),
    # r9: the mean pass + d^2-cell Gram aggregate run behind the
    # bounded driver collects; the returned 64-row PC table is local
    "embeddings_top_pc": (0, 0),
    # r9: unigram agg + zip-shifted bigram agg + two keyed joins onto
    # the Heaps'-law unigram table + two 1-row scalars crossJoined
    "docs_pmi_collocations": (6, 3),
    # r13: six concurrent NARROW (custkey, value) ntile axes re-attached
    # with custkey equi-joins — more exchanges than the old two 3-deep
    # chains (which hid their range shuffles behind pins), but each
    # carries 2 columns instead of the full accumulating frame, and the
    # axes overlap (measured 5.5 -> 4.1 s; fewer jobs/tasks: 42/1098 ->
    # 26/856). 12 join-side hash exchanges + the cell aggregate.
    "customer_rfm_migration": (13, 0),
    # r9: (source,token)-count pass + pair-grid expansion over the
    # Heaps'-law vocab (15-row pair side broadcast) + two keyed joins
    "docs_js_divergence_sources": (6, 4),
    # r10: read-only serving over the build-once cell-partitioned code
    # store — partition-pruned scan -> literal table lookup ->
    # TakeOrdered; training sits behind ensure_ivfadc_index
    "sim_ivfadc_serve": (0, 0),
    # r10: hll sketch rollup chain + the exact two-exchange distinct
    # (the accuracy gate needs the exact side by definition) + week-key
    # broadcast join of the handful-of-rows estimate table
    "hll_weekly_users_accuracy": (10, 1),
    # r10: seed-gram census + capped cross-doc seed join (semi sides
    # broadcast at test SF) + one (pair, diagonal) islands window
    # r12: the cap-filtered seed table is pinned; the keep semi-join's
    # broadcast now lives inside the checkpoint lineage
    "docs_duplicate_spans": (5, 1),
    # r10: postings-only BM25 leg is the data shuffle; candidate-set
    # rerank joins are all <=40-row broadcasts (+1-row bmax scalar)
    "docs_hybrid_rerank": (3, 3),
    # r10: the span seed chain + per-doc interval-union windows over
    # only the cut intervals + doc-count left join
    "docs_span_cut_plan": (8, 2),
    # r10: one fact-dim join + one QI aggregate; 3-literal explode +
    # 1-row totals scalar over the tiny class table
    "orders_l_diversity": (3, 1),
    # r10: joined pass checkpointed; class/seg aggregates + 5-row grid
    # broadcast + 1-row N scalar; exact-integer TVD gate
    "orders_t_closeness": (4, 1),
    # r10: one digit count agg; 9-row expected grid + 1-row N scalar
    "audit_benford_totalprice": (2, 2),
    # r10: read-only serving over the bucket-partitioned postings store
    # — two pruned scans (dfreq + scoring), doc-keyed score agg,
    # TakeOrdered; tokenize/index jobs sit behind ensure_postings_store
    "docs_bm25_serve": (2, 1),
    # r10: both retrieval legs read prebuilt stores (pruned scans);
    # rank/fusion windows run over the <=40 surviving candidates
    "docs_hybrid_serve": (3, 1),
    # r10: steady-state = the bm25_serve plan (maintenance calls are
    # marker-absorbed no-ops before the returned frame is built)
    "docs_bm25_serve_incremental": (2, 1),
    # r10: steady-state = the ivfadc_serve plan (frozen-model encode
    # append + marker both no-op before the returned frame is built)
    "sim_ivfadc_serve_incremental": (0, 0),
    # r10: ONE pruned scan for 3 queries — (query,term) map + dfreq
    # broadcast, (query,doc) score agg, query-partitioned top-5 window
    "docs_bm25_serve_batch": (3, 2),
    # r10: per-doc gram census + capped self-join + (doc, offset)
    # islands window — all bounded by intra-doc repeat volume
    # r12: pinned cap-filtered seed table (see docs_duplicate_spans)
    "docs_self_repetition": (4, 1),
    # r10: one value-keyed agg; ECDF window + max-D reduce over the
    # collapsed distinct-value table (the Mann-Whitney recipe)
    "events_ks_test": (4, 1),
    # r10: two TakeOrdered heaps (exact + ADC serve) joined over 10
    # rows; training sits behind the driver-side fits
    "sim_ivfadc_recall": (0, 1),
    # r10: two scans + two anti-joins + dim census — seven 1-row
    # audit aggregates crossJoined (the audit_fk_orphans shape)
    "audit_doc_embedding_coverage": (6, 4),
    # r10: ONE pruned scan for 3 ANN queries — (query,cell) probe map
    # broadcast + literal per-query ADC tables + per-query rank window
    "sim_ivfadc_serve_batch": (1, 1),
    # r10: 20-row literal grid, pure projection
    "dedup_lsh_scurve": (0, 0),
    # r10: one full-outer keyed join + 1-row global diff reduce
    "audit_dataset_diff": (3, 0),
    # r10 capstone: both legs read prebuilt stores (pruned scans);
    # rerank joins all <=40-row broadcasts (+1-row bmax scalar)
    "docs_retrieval_pipeline_serve": (2, 3),
    # r10: one daily aggregate + calendar-bounded (<=365-row) broadcast
    # pair loop + exact_ntile's range repartition over the pair frame
    "lineitem_theilsen_drift": (3, 2),
    # r10: one tokenize-once scored/labeled projection + exact_ntile
    # range repartition + one decile aggregate
    "docs_quality_calibration": (2, 1),
    # r10: two CC labelings (capped shingle join / banded bucket join)
    # + singleton fill + three keyed pair-count aggregates crossJoined
    "dedup_agreement_ari": (7, 3),
    # r10: grouped-ntile composite range repartition + quartile agg +
    # |sources|-row broadcast for the robust-z pass
    # r12: the grouped-ntile output is pinned (score + range machinery
    # runs once); its internal broadcasts moved into checkpoint lineage
    "docs_robust_scaling": (3, 1),
    # r10: grouped-rank composite range repartition + one source-keyed
    # concentration aggregate
    "docs_source_concentration": (2, 1),
    # r10: one source-keyed aggregate (checkpointed) + two 1-row scalar
    # broadcasts; cost independent of corpus size past the first agg
    "docs_mixture_temperature": (1, 1),
    # r10: scan -> literal whitening projection -> TakeOrdered heap (the
    # sim_topk_bruteforce plan; the one exchange is the min-partition
    # round-robin on the tiny test file)
    "sim_topk_whitened": (1, 0),
    # r10: sampled eval — uncapped shingle pair chain + banded candidate
    # chain + one broadcast left join + one bin-keyed aggregate
    "dedup_lsh_recall_by_bin": (7, 3),
    # r10: grouped-ntile composite range repartition + (source, decile)
    # aggregate; cumulative windows run over the |sources| x 10 report
    "docs_source_lorenz": (3, 1),
    # r10: capped CC pipeline + broadcast cluster map onto one scan +
    # one source-keyed aggregate
    "dedup_impact_report": (2, 1),  # cluster map from the persisted store
    # r10: scan -> literal whitening projection -> TakeOrdered heap
    "embeddings_outliers": (1, 0),
    # r10: capped CC pipeline + cluster-keyed then size-keyed counts
    "dedup_cluster_sizes": (2, 0),  # cluster map from the persisted store
    # r10 capstone: composes FIVE audits (each its own keyed passes) +
    # five 1-row gate scalars crossJoined
    "audit_release_gate": (21, 13),  # r13: +1 distinct-parent-key guard exchange (see audit_fk_orphans)
    # r10: one month-keyed aggregate; lag/rank windows + error reduce
    # run over the ~80-row monthly series
    "orders_forecast_backtest": (2, 0),
    # r10: basket-bounded within-order pair join + marginal count
    # broadcasts + TakeOrdered heap
    "parts_item_similarity_topk": (6, 2),
    # r10: two TakeOrdered heaps (raw + whitened) joined over 10 rows
    "sim_whitened_shift": (2, 1),
    # r10: capped pair chain + two doc->source broadcast lookups + one
    # (source, source)-keyed count
    "dedup_cross_source_matrix": (3, 1),  # pair table from the persisted store
    # r10: banded candidate chain + signature table broadcast twice +
    # 1-row error reduce
    # store pairs + store signatures joined by id (AQE broadcasts the
    # small pair side; was 7 shuffles when it re-sketched the corpus)
    "dedup_minhash_estimator_error": (1, 2),
    # r10: serving reads the (|deltas| x |buckets|)-row store + the
    # <=|bounds|-row quantile walk; build/increment sit behind ensure_*
    "orders_price_quantile_store": (6, 0),
    # r10: one (key, bucket)-keyed sketch aggregate; per-key quantile
    # windows run over the |keys| x |bounds| sketch table
    "events_type_value_quantile_sketch": (2, 0),
    # r10: (label, dim)-keyed centroid aggregate broadcast back + one
    # member-distance aggregate + |labels|^2 centroid-pair loop
    "embeddings_cluster_separation": (7, 3),
    # r10: capped pair chain + two hash-split broadcast lookups + one
    # (split, split)-keyed count
    "docs_split_leakage_neardup": (3, 1),  # pair table from the persisted store
    # r10 capstone: composes FOUR docs audits + four 1-row card scalars
    # r12: the shared shingle checkpoint lets Catalyst reuse one
    # BroadcastExchange across the dup-span leg (8 -> 7, all joins broadcast)
    # r13: the near-dup leg now reads the persisted store too (2 of the
    # old broadcasts were the live pair stage's); split-leak + near-dup
    # legs are pruned store scans
    "docs_release_card": (12, 5),
    # r10: one capped pair pass + 6-literal threshold broadcast
    "dedup_threshold_sweep": (1, 1),  # pair table from the persisted store
    # r10: serving reads the keyed store (|keys| x |bounds| rows) +
    # per-key quantile windows; build/increment sit behind ensure_*
    "events_type_quantile_store": (2, 0),
    # r10: (type, hour)-keyed count then type-keyed moment aggregate
    "events_burstiness_index": (2, 0),
    # r10: supplier-revenue aggregate + per-nation total broadcast +
    # nation dim broadcast; integer-ppm shares
    # r12: nation total rides a window-sum over the per-supplier agg —
    # the separate total aggregate + its broadcast (and the second full
    # lineitem derivation feeding it) are gone
    "supplier_revenue_hhi": (3, 2),
    # r10: customer aggregate + funnel-free global rank (empty-group
    # grouped-rank) + 1-row identity reduce
    "orders_customer_gini": (2, 1),
}

# These plans contain an `Exchange SinglePartition` ONLY for a 1-row
# global-scalar aggregate (corpus size / avgdl / bin totals) that is
# then broadcast — 32 partial rows merging into one is not a data
# funnel. The funnel ban still applies to every other query.
SCALAR_OK = {
    "docs_tfidf_topk",
    "docs_bm25_search",
    "lineitem_price_drift",
    "docs_token_drift",
    "q14_promo_share",  # share window over the 6-row type aggregate
    "q15_top_supplier",  # 1-row MAX(total_revenue) scalar
    "q17_small_quantity",  # single-row avg_yearly output
    "q19_disjunctive_revenue",  # single-row revenue output
    "q22_idle_customers",  # 1-row acctbal-threshold scalar
    "events_type_affinity_daily",  # 1-row group-total scalar
    "docs_negative_pairs",  # 1-row max-id scalar
    "docs_lm_score",  # 1-row vocabulary scalar
    "q11_important_stock",  # 1-row value-threshold scalar
    "docs_contamination_bloom",  # 1-row bitset-array scalar
    "audit_fk_orphans",  # five 1-row per-relation audit summaries
    "lineitem_corr_matrix",  # 1-row moments scalar, unpivoted to 6 rows
    "events_user_skew_report",  # 1-row totals scalar + 20-row rank window
    "lineitem_basket_rules",  # 1-row basket-count scalar
    "orders_revenue_trend",  # index window + moments over ~80 monthly rows
    "lineitem_abc_classes",  # 1-row revenue-total scalar
    "pricing_cube",  # r13: grand-total fold of the 6-row pinned detail
    "orders_dow_seasonality",  # totals window over the 7-row dow table
    "events_time_to_convert",  # 1-row latency summary
    "events_changepoint_cusum",  # cusum windows over the tiny daily series
    "part_skyline",  # frontier sweep over the distinct-price table
    "orders_benford",  # share window over the 9-digit histogram
    "audit_value_ranges",  # four 1-row per-relation audit summaries
    "events_ab_test_summary",  # 1-row arm-totals scalar
    "orders_seasonal_decompose",  # windows over the ~80-row monthly series
    "docs_zipf_fit",  # rank window + 1-row moments over the 500-row head
    "lineitem_quantity_chi2",  # 1-row closed-form reduction
    "orders_km_survival",  # cumulative windows over distinct durations
    "docs_hybrid_search_rrf",  # rank/fusion windows over the <=40 top-k rows
    "docs_hybrid_rerank",  # bmax/avgdl 1-row scalars over the <=40 candidates
    "docs_hybrid_serve",  # rank/fusion windows over the <=40 store candidates
    "docs_retrieval_pipeline_serve",  # bmax scalar over <=40 store candidates
    "orders_l_diversity",  # 1-row totals scalar over the class table
    "orders_t_closeness",  # 1-row N + totals scalars over the class table
    "audit_benford_totalprice",  # 1-row N scalar over the 9-digit grid
    "events_mann_whitney",  # 1-row closed-form U/z reduction
    "events_ks_test",  # ECDF window over the collapsed value table
    "audit_doc_embedding_coverage",  # 1-row audit aggregates crossJoined
    "audit_dataset_diff",  # 1-row global diff reduce
    # r12: the "SinglePartition" hit is the pinned scored frame's
    # partitioning descriptor printed inside TakeOrderedAndProject's
    # arguments (bounded k-row heap output) plus 1-row recall scalars —
    # no unbounded funnel; the scan itself stays parallel
    "embeddings_dim_ablation",
    "parts_copurchase_triangles",  # three 1-row census scalars crossJoined
    "docs_length_batching",  # 1-row waste scalars crossJoined
    "docs_theil_inequality",  # 1-row decomposition scalars crossJoined
    "orders_bootstrap_ci",  # rank window over the 100-row resample table
    "lineitem_discount_did",  # 2x2 cell pivot over 4 rows
    "events_cuped_adjusted",  # 1-row theta/moments scalar crossJoined
    "parts_copurchase_kcore",  # three 1-row core-census scalars crossJoined
    "orders_k_anonymity",  # 1-row class-count scalar crossJoined
    "docs_ccnet_buckets",  # lm_score's 1-row vocabulary scalar
    "sketch_join_cardinality",  # three 1-row estimate scalars + 5-row median window
    "dedup_minhash_recall",  # three 1-row count scalars crossJoined
    "orders_price_quantile_sketch",  # cum walk over <= |bounds| bucket rows
    "docs_pmi_collocations",  # two 1-row total scalars crossJoined
    "lineitem_theilsen_drift",  # 1-row n_days + median scalars crossJoined
    "dedup_agreement_ari",  # four 1-row pair-count scalars crossJoined
    "docs_mixture_temperature",  # 1-row corpus-total + weight-sum scalars
    "audit_release_gate",  # five 1-row audit-gate scalars crossJoined
    "orders_forecast_backtest",  # windows over the ~80-row monthly series
    "dedup_minhash_estimator_error",  # 1-row error-statistic reduce
    "orders_price_quantile_store",  # cum walk over <= |bounds| bucket rows
    "docs_release_card",  # four 1-row corpus-card scalars crossJoined
    "orders_customer_gini",  # 1-row Gini-identity reduce
}

# Arrow-vectorized Python (mapInPandas / pandas UDF) is the sanctioned
# escape hatch for these; row-at-a-time BatchEvalPython is never OK.
ARROW_OK = {
    "multimodal_features",
    "multimodal_media_stats",
    "multimodal_header_parse",
}

SF = "/root/testdata/sf0.001"


class TestHeadlinePlanBudgets:
    @pytest.mark.parametrize("name", sorted(HEADLINE_BUDGETS))
    def test_budget(self, spark, name):
        max_exch, min_bcast = HEADLINE_BUDGETS[name]
        df = QUERIES[name](spark, SF)
        df.collect()  # drive to the AQE final plan
        plan = P.formatted_plan(df)
        exch, bcast = P.exchange_count(df), P.broadcast_count(df)
        assert exch <= max_exch, f"{name}: {exch} shuffles (budget {max_exch})"
        assert bcast >= min_bcast, f"{name}: {bcast} broadcasts (need {min_bcast})"
        if name not in SCALAR_OK:
            assert "SinglePartition" not in plan, f"{name}: single-partition funnel"
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"

    def test_q1_scan_is_pruned_and_pushed(self, spark):
        df = QUERIES["q1_pricing_summary"](spark, SF)
        df.collect()
        # the shipdate filter must reach the parquet scan
        assert any("l_shipdate" in f for f in P.pushed_filters(df))
        read = P.scan_columns(df)
        assert "l_comment" not in read and "l_shipinstruct" not in read

    def test_minhash_store_scan_pushes_threshold(self, spark):
        """dedup_minhash_lsh's warm path is a pruned scan of the MinHash
        family store: the verify threshold must reach the pairs parquet
        as a PushedFilter, not a post-scan filter."""
        df = QUERIES["dedup_minhash_lsh"](spark, SF)
        df.collect()
        assert any("jaccard" in f for f in P.pushed_filters(df)), (
            P.pushed_filters(df)
        )

    def test_partition_roundtrip_prunes_day_dirs(self, spark):
        """The day predicate must bind as a PartitionFilter on the
        hive-partitioned store scan — file-index pruning, not a
        post-scan filter; at 100 TB this is the 3%-scan guarantee."""
        df = QUERIES["io_partition_roundtrip"](spark, SF)
        df.collect()
        plan = P.formatted_plan(df)
        lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert lines and any("2024-01-08" in l for l in lines), lines

    def test_ivfadc_serve_prunes_unprobed_cells(self, spark):
        """sim_ivfadc_serve's contract (r9 verdict item 3): the probed-
        cell predicate must bind as a PartitionFilter on the code-store
        scan — unprobed cell directories are never even LISTED — and
        the served plan carries zero shuffles. At 1e9+ vectors this is
        nprobe/k of the corpus touched, reading m-byte codes."""
        df = QUERIES["sim_ivfadc_serve"](spark, SF)
        df.collect()
        plan = P.formatted_plan(df)
        lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert lines and any("cell" in l and " IN " in l for l in lines), lines
        assert P.exchange_count(df) == 0, plan
        # codes ride the scan; raw embeddings never leave the store
        assert "embedding" not in P.scan_columns(df)

    def test_bm25_serve_prunes_unprobed_buckets(self, spark):
        """docs_bm25_serve's contract: the probed-bucket predicate must
        bind as a PartitionFilter on the postings-store scan (query
        terms' buckets only — ~|terms|/64 of the index listed at any
        corpus size), and the term predicate must additionally push to
        the parquet row groups."""
        df = QUERIES["docs_bm25_serve"](spark, SF)
        df.collect()
        plan = P.formatted_plan(df)
        lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert lines and any("bucket" in l and " IN " in l for l in lines), lines
        assert any("term" in f for f in P.pushed_filters(df)), P.pushed_filters(df)

    def test_winnowing_fp_broadcast_is_stats_driven_not_forced(self, spark):
        """The winnowing fp-share count has one row per distinct selected
        fingerprint — corpus-scale at 100 TB — so the query must never
        FORCE it to broadcast (no F.broadcast hint): a hint would OOM at
        scale. Spark's size-based planners DO broadcast it at test SF
        (the collapsed side is ~KBs) and that is correct — a runtime-
        stats decision reverts to the shuffle join when the side is
        large. Pinned by planning with the size-based paths disabled
        (threshold=-1, AQE off): any surviving BroadcastExchange could
        only come from a hint."""
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            df = QUERIES["docs_winnowing"](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    def test_bucketed_join_reuses_write_distribution(self, spark):
        """orders_bucketed_join_stats' contract: with size-based
        broadcasts disabled, the co-bucketed orderkey join plans with
        exactly ONE Exchange — the priority aggregate above it. A
        second Exchange means the join stopped reusing the write-time
        bucketing and re-shuffles both facts on every run, which is the
        regression this pattern exists to prevent at 100 TB."""
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = QUERIES["orders_bucketed_join_stats"](spark, SF)
            df.collect()
            plan = P.formatted_plan(df)
            assert "SortMergeJoin" in plan, plan
            assert P.exchange_count(df) == 1, plan
            assert P.broadcast_count(df) == 0, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

    def test_q12_shipdate_range_is_pushed(self, spark):
        """The 1997 ship-date range must reach the lineitem parquet scan
        — at 100 TB this is the difference between scanning one year and
        scanning the table; the late-shipment predicate (vs o_orderdate)
        correctly stays post-join."""
        df = QUERIES["q12_shipmode_priority"](spark, SF)
        df.collect()
        assert any("l_shipdate" in f for f in P.pushed_filters(df))


class TestCatalogPythonEval:
    def test_no_row_at_a_time_python_in_catalog(self, spark, sf_dir):
        """BatchEvalPython (pickled row-at-a-time UDF) is banned across
        the whole catalog; Arrow-vectorized Python is allowed only for
        the multimodal family (decode/feature UDFs have no JVM form)."""
        offenders = {}
        for name, fn in sorted(QUERIES.items()):
            plan = P.formatted_plan(fn(spark, sf_dir))
            bad = []
            if "BatchEvalPython" in plan:
                bad.append("BatchEvalPython")
            if name not in ARROW_OK and (
                "ArrowEvalPython" in plan or "MapInPandas" in plan
            ):
                bad.append("ArrowEvalPython/MapInPandas")
            if bad:
                offenders[name] = bad
        assert not offenders, f"Python eval in hot paths: {offenders}"


class TestTokenizeOnce:
    """word_shingles reads its token array at every n-gram position inside
    a transform lambda, where common-subexpression elimination does not
    reach: the shingling paths must tokenize in a child projection."""

    @staticmethod
    def _assert_one_tokenizer(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(lower(") == 1, plan
        for line in plan.splitlines():
            if "transform(" in line:
                assert "split(lower(" not in line, plan

    def test_shingle_table_and_sets(self, spark):
        from etlutil_spark.operators.dedup import shingle_sets, shingle_table

        docs = spark.createDataFrame(
            [(1, "The quick brown fox jumps")], "doc_id long, text string"
        )
        self._assert_one_tokenizer(shingle_table(docs, "doc_id", "text"))
        self._assert_one_tokenizer(shingle_sets(docs, "doc_id", "text"))
        assert sorted(r.shingle for r in shingle_table(docs, "doc_id", "text").collect()) == [
            "brown fox jumps", "quick brown fox", "the quick brown",
        ]

    def test_trigram_query(self, spark, sf_dir):
        self._assert_one_tokenizer(QUERIES["docs_ngram_topk_per_lang"](spark, sf_dir))
