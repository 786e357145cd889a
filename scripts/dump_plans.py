"""Regenerate PLANS.md: explain('formatted') operator trees for the
plan-evidence query set at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os

from tfm_semisup_spark.queries import QUERIES, load_all_queries
from tfm_semisup_spark.session import get_spark

PICKS = {
    "flagship_regional_revenue": (
        "star join: pushed filters, pruned columns, broadcast dims, "
        "single agg exchange, TakeOrderedAndProject"
    ),
    "pricing_summary": "wide agg: partial (map-side) HashAggregate before the single exchange",
    "topk_orders": "global top-k compiles to TakeOrderedAndProject (no full sort)",
    "semi_join_urgent_customers": "EXISTS becomes BroadcastHashJoin LeftSemi",
    "asof_join_latest_order": (
        "as-of join: one hash exchange per side, per-key sort, window "
        "carry-forward — no range explosion"
    ),
    "dedup_ngram_jaccard_pairs": (
        "repartition decouples shingling CPU from input splits; "
        "inverted-index self-join"
    ),
    "doc_chunks_overlap": (
        "chunking is a narrow per-row Generate (posexplode) — no "
        "Exchange anywhere; text leaves the scan only as md5"
    ),
    "pack_token_bins": (
        "packing window is PARTITIONED by bucket: one hash exchange, "
        "per-bucket sort — never a global single-partition sort"
    ),
    "similarity_topk_batch": (
        "batch retrieval: BroadcastExchange of the query set, one "
        "corpus scan, per-query partitioned rank window"
    ),
    "grouped_pandas_value_trend": (
        "many-small-groups Arrow path: hash repartition + in-partition "
        "sort + ONE MapInPandas (no per-group batches)"
    ),
    "q17_small_quantity_revenue": (
        "correlated scalar subquery DECORRELATED by Catalyst: per-part "
        "aggregate + joins, broadcast dim — no per-row re-execution"
    ),
    "substring_dup_cut_list": (
        "cut-list spans: gram index moves xxhash64 longs; island "
        "window is PARTITIONED by doc_id (per-doc sort, no global sort)"
    ),
    "similarity_pq_topk": (
        "PQ: ONE narrow vectorized-Arrow encode (MapInPandas, no "
        "shuffle), codegen ADC lookups + TakeOrdered shortlist"
    ),
    "sketch_incremental_distinct_users": (
        "mergeable-sketch rollup: partial hll_sketch_agg map-side, "
        "sketches (not values) cross the exchanges"
    ),
    "q4_priority_with_returns": (
        "EXISTS compiles to a semi join (shuffles keys only) feeding "
        "a 5-group partial agg"
    ),
    "q13_customer_distribution": (
        "left-outer + count-of-counts: two exchanges total; second "
        "agg input is one row per customer"
    ),
    "q16_supplier_diversity": (
        "NOT IN as broadcast anti join; two-phase distinct aggregate "
        "(partial_count(distinct) before the exchange)"
    ),
    "q22_global_sales_opportunity": (
        "scalar avg is one tiny pre-computed agg; anti join against "
        "orders keys; per-nation agg"
    ),
    "dedup_cluster_components": (
        "label propagation round: closed-neighborhood groupBy-min "
        "over self-loop edges + pointer-jump join — (node,label) "
        "pairs only, 3 shuffles/round, 2 rounds at sf0.1"
    ),
    "q6_forecast_revenue": (
        "the pushdown probe: every predicate in PushedFilters, "
        "4-column ReadSchema, scan -> partial agg -> final agg"
    ),
    "q5_local_supplier_volume": (
        "6-way snowflake: fact-fact shuffle joins on orderkey/custkey, "
        "supplier/nation/region broadcast, 25-group agg"
    ),
    "q21_waiting_suppliers": (
        "EXISTS/NOT-EXISTS re-expressed as ONE per-order distinct-"
        "count aggregate: two orderkey shuffles, no correlated "
        "self-joins"
    ),
    "text_bm25_topk": (
        "BM25: exploded tokens filtered to the broadcast query vocab "
        "BEFORE the shuffle — O(matching tokens), no posting lists"
    ),
    "dedup_editdist_pairs": (
        "blocked verify: block-key hash join (no cross join), "
        "threshold-Levenshtein evaluated once per pair, explicit "
        "64-way repartition sized by CPU not bytes"
    ),
    "timeseries_gap_fill": (
        "dense scaffold from sequence+explode (O(hours), no scan) "
        "LEFT-joined with the pruned day's counts"
    ),
    "weighted_reservoir_sample": (
        "A-Res weighted sampling: zero exchanges — one codegen key "
        "projection into TakeOrderedAndProject"
    ),
    "boilerplate_line_removal": (
        "line frequency on 8-byte hashes over the persisted segment "
        "table; one document-reassembly shuffle"
    ),
    "bloom_contamination_screen": (
        "one string-hashing pass persisted as primitives; bitset "
        "probe is scan + codegen bit tests, no join"
    ),
    "label_centroid_stats": (
        "joinless inertia identity: flat (label, dim) partial sums, "
        "no centroid-to-vector join in the plan"
    ),
    "constraint_audit_orders": (
        "five expectation families in ONE scan (single aggregate), "
        "stack unpivot"
    ),
    "cms_heavy_hitters": (
        "count-min: one digest three position slices, persisted "
        "primitives, d counter aggregates + broadcast estimate joins"
    ),
    "order_history_scd2": (
        "SCD2 build: keeper filter pushed to the scan, ONE custkey "
        "exchange + per-key sort feeding row_number AND lead in a "
        "single Window node"
    ),
    "rfm_segments": (
        "RFM: UNHINTED customer join (AQE broadcasts at bench SF, "
        "degrades to shuffle past the threshold — r5 hint policy), "
        "partial agg per customer, three NTILE windows share ONE "
        "mktsegment exchange (re-sort only between them), final agg"
    ),
    "nation_revenue_share": (
        "ratio-to-report: unhinted customer join (r5 hint policy) + "
        "broadcast nation/region; windowed SUM runs over the 25-row "
        "aggregate, never fact rows"
    ),
    "q9_product_profit": (
        "5-way profit join: part/supplier UNHINTED (AQE decides — r5 "
        "hint policy), nation broadcast, one fact-keyed agg exchange"
    ),
    "q15_top_supplier": (
        "windowless winner selection (r5): checkpointed revenue "
        "aggregate + single-row MAX broadcast + equality filter — no "
        "unpartitioned sort anywhere"
    ),
    "text_bm25_workload_topk": (
        "BM25 workload: postings filtered by the broadcast query set, "
        "per-query partitioned rank over precomputed dl/df/avgdl"
    ),
    "nation_yoy_revenue_growth": (
        "YoY: fact agg exchange, then LAG over the nation x year "
        "aggregate (schema x time bounded) — window input never "
        "fact-sized"
    ),
    "dedup_minhash_portable_pairs": (
        "oracled MinHash: checkpointed signature table feeds bands + "
        "both verify sides (one corpus explode), band join on 32-bit "
        "keys"
    ),
    "merge_upsert_orders": (
        "SCD1 merge: ONE full-outer key shuffle, action classification "
        "in the projection — no window, no driver state"
    ),
    "rolling_7d_active_users": (
        "sliding COUNT DISTINCT: checkpointed (user, day) distinct "
        "exploded into 7 contribution days — shuffle is 7x the "
        "per-day distinct set, never events"
    ),
    "referential_integrity_audit": (
        "five FK anti-join legs unioned; nation-sized parents "
        "broadcast, fact-sized legs shuffle on the key"
    ),
    "weighted_reservoir_per_lang": (
        "per-group A-Res: one lang exchange + per-group rank — "
        "never a global sort"
    ),
    "item_triangle_counts": (
        "oriented triangle enumeration: checkpointed edge scan feeds "
        "all three join legs; vertex-keyed hash joins only, no "
        "Cartesian, no symmetrization blowup"
    ),
    "text_unigram_logppl": (
        "unigram LM: map-side-combined wordcount, vocab-sized prob "
        "table joined on the term key, single-row total broadcast, "
        "one per-doc agg exchange"
    ),
    "multimodal_bmp_decode_stats": (
        "real decode path: two narrow Arrow MapInPandas stages "
        "(encode -> parse) — no Exchange anywhere"
    ),
    "profile_orders_columns_approx": (
        "approx profile: ONE HashAggregate pass with HLL++ sketches — "
        "no k-way Expand (the exact tier's map-side row blowup)"
    ),
    "winsorized_price_stats": (
        "winsorize: exact-quantile bounds computed once (single-row "
        "relation) and broadcast against the fact scan — clip + agg "
        "in one pass, no fact shuffle for the bounds"
    ),
    "embedding_standardize_stats": (
        "scaler fit: narrow posexplode then ONE dim-keyed aggregate — "
        "output cardinality is the embedding dimension, never rows"
    ),
    "robust_outlier_mad": (
        "MAD outliers: per-type median/MAD relations broadcast back "
        "(BroadcastHashJoin, pinned no-SortMergeJoin) — three scans, "
        "zero fact-sized shuffles"
    ),
    "ewma_daily_revenue": (
        "EWMA as contribution explode over the DAILY aggregate with "
        "EXACT integer weights — no window, no non-equi self-join; "
        "single-row max-day broadcast cut"
    ),
    "text_bigram_pmi": (
        "collocations: bigrams built IN-ROW (one zip_with) then "
        "exploded — no token-stream window shuffle; PMI marginals "
        "broadcast from the vocab²-bounded bigram aggregate"
    ),
    "semantic_contamination_screen": (
        "embedding decontamination: corpus scan x BROADCAST benchmark "
        "set; L2 norms projected per side BEFORE the join and the tau "
        "gate INSIDE the aggregation, so the join-fused codegen method "
        "holds one dot — no 64 KB overflow, no predicate-pushdown dot "
        "duplication (r8); zero corpus shuffle before the per-vector "
        "aggregate"
    ),
    "similarity_pairs_above": (
        "pair-join cosine: per-side l2_norm_fixed projections compile "
        "in their own stages; the join-fused method holds only the "
        "fixed-arity dot + divide — under the JVM 64 KB codegen limit "
        "(r8 fix; pinned by codegen.fallback=false tests)"
    ),
    "domain_temperature_sample": (
        "temperature mixing: |sources| count aggregate BROADCAST back "
        "onto the scan, integer md5-threshold keep — no window, no "
        "per-doc shuffle before the final per-source aggregate"
    ),
    "zipf_token_audit": (
        "Zipf fit: ONE token-stream shuffle (the wordcount); the rank "
        "window runs over the vocab-sized aggregate, never the stream; "
        "30-row heads into a closed-form OLS aggregate"
    ),
    "hll_portable_distinct": (
        "oracled HLL: distinct keys -> md5 slices -> 64-register MAX "
        "aggregate (map-side partial, 64-row shuffle payload) + "
        "single-row exact-count broadcast"
    ),
    "target_encode_priority": (
        "out-of-fold target encoding: ONE fact aggregation to the "
        "fold x category grid; OOF sums are window subtractions over "
        "that bounded grid — no second fact pass"
    ),
    "point_in_time_order_state": (
        "feature-store PIT join: custkey-keyed interval-containment "
        "join of the probe grid into SCD2 validity intervals — each "
        "probe matches exactly one interval, no time-cross-time"
    ),
    "asof_forward_next_order": (
        "forward as-of: tag + union + ONE per-key window "
        "(first ignorenulls over currentRow..following) — zero joins "
        "in the whole plan"
    ),
    "vocab_id_stats": (
        "tokenize-to-ids: vocab rank window over the wordcount "
        "aggregate; id map BROADCAST onto the exploded stream — the "
        "only token-stream shuffle is the wordcount itself"
    ),
    "spatial_grid_radius_pairs": (
        "grid-blocked radius join: 3x3 neighbor-cell EQUI-join (no "
        "cartesian/BNLJ anywhere), integer dist^2 filter in codegen"
    ),
    "item_bfs_hop_distance": (
        "fixed-round BFS: ONE statically-bounded plan — 3 join+MIN "
        "rounds over the checkpointed edge scan, no per-round "
        "checkpoint jobs, no frontier distinct"
    ),
    "theilsen_daily_revenue_slope": (
        "banded Theil-Sen (r15 grid replay): ONE corpus aggregate to "
        "the calendar-bounded day grid, collected; slopes + positional "
        "median replay in driver numpy — the plan is the aggregate + "
        "a literal-rows scan, no band join, no window"
    ),
    "text_bigram_addk_logppl": (
        "bigram LM self-ppl: per-doc bigram PRE-aggregation before "
        "the (w1,w2)-keyed LM join — joins move distinct doc-bigrams, "
        "never the token stream; LM deliberately not broadcast"
    ),
    "acf_daily_revenue": (
        "ACF: exact integer moment partials (decimal sums), lag "
        "pairing as exploded-lags equi-join, single-row totals "
        "broadcast — no per-term (x - mean) double sums"
    ),
    "half_sample_replicate_means": (
        "x32 replicate fan-out straight into a map-side-combined "
        "aggregate: the exchange moves B x partitions rows, never "
        "B x orders"
    ),
    "item_personalized_pagerank": (
        "seed-restart power iteration: per-round join+agg+left-join "
        "over checkpointed edges, O(1) lineage via truncate/release"
    ),
    "variant_props_extract": (
        "VARIANT path: parse_json once per row, typed variant_get in "
        "the same codegen projection, one 5-group agg exchange"
    ),
    "ssl_selftrain_one_round_nb": (
        "promotion round: three bounded model aggregates broadcast "
        "back onto the pool, all-integer DECIMAL(38,0) score compare, "
        "single fused projection"
    ),
    "spearman_qty_disc": (
        "bounded-grid rank statistic: ONE fact groupBy exchange, then "
        "broadcast grid joins and a per-flag aggregate"
    ),
    "part_degree_assortativity": (
        "checkpointed co-order edge list, symmetric moment sums over "
        "the undirected list, broadcast/AQE degree joins"
    ),
    "record_linkage_fs": (
        "blocked entity resolution: ONE equi-join exchange on the "
        "high-cardinality (nation, dollar) blocking key — candidate "
        "pairs ~linear in customers, integer milli-bit FS scoring "
        "fused into the join projection"
    ),
    "text_proximity_search": (
        "NEAR/k: position streams joined to the BROADCAST workload "
        "terms before any exchange — the pair join shuffles only "
        "query-term occurrences, never the token stream"
    ),
    "ssl_isotonic_calibration": (
        "PAVA-minimax: one fact-scale aggregate to the NB contingency "
        "grid; the B=20 bin grid is a driver-built local relation and "
        "the segment/suffix-min/max windows all run on it"
    ),
    "similarity_hard_negatives_ann": (
        "IVF-mined hard negatives (VERDICT r9 #3): candidates arrive "
        "via a BroadcastHashJoin on the probed bucket — the only "
        "nested loop is anchors x the BOUNDED k-row centroid table, "
        "never the corpus"
    ),
    "ssl_selftrain_two_round_nb": (
        "two-round self-training: round-1 decisions localCheckpointed "
        "once and consumed by summary + refit + round-2 pool; all "
        "likelihood tables broadcast, scores exact DECIMAL(38,0)"
    ),
    "mann_kendall_daily_trend": (
        "Mann-Kendall (r15 grid replay): ONE corpus aggregate to the "
        "calendar-bounded day grid, collected; the calendar^2 sign "
        "comparisons + tie sums replay in driver numpy exact integers "
        "— no pair join in the plan"
    ),
    "part_hits_authorities": (
        "HITS: edge list aggregated+checkpointed once; each "
        "half-iteration is one broadcast score join + one keyed "
        "aggregate; top-10 is TakeOrderedAndProject"
    ),
    "minhash_calibration_audit": (
        "estimate-vs-exact calibration joins grams only for BANDED "
        "candidate pairs; per-pair Jaccard quantized to integers so "
        "the per-level averages are order-free"
    ),
    "keyword_rake_top": (
        "RAKE: islands from one doc-keyed running-stop-count window; "
        "stoplist and word-score tables broadcast; final top-10 is "
        "TakeOrderedAndProject on the integer phrase score"
    ),
    "item_link_prediction_ra": (
        "link prediction: checkpointed edge list feeds the wedge "
        "self-join, a broadcast degree join, and the LeftAnti non-edge "
        "probe; scores all-integer, top-k is TakeOrderedAndProject"
    ),
    "dedup_winnowing_pairs": (
        "winnowing: explode(sequence)+element_at k-grams (codegen, no "
        "interpreted HOF), one doc-keyed window-min, fingerprint-value "
        "blocked pair join with a broadcast hot-fingerprint anti-join"
    ),
    "dsir_importance_select": (
        "DSIR: two fact-scale groupBys to the constant 4096-bucket "
        "grid; the quantized log-ratio table is a broadcast join side; "
        "doc scores are one integer aggregate — corpus text never "
        "joins corpus text"
    ),
    "q11_top_value_parts": (
        "Q11 nonzero variant: two-level supply aggregate keyed on "
        "partkey, one-row broadcast total cross-joined in, exact "
        "DECIMAL compare — no fact-table rescan for the scalar"
    ),
    "ssl_cotrain_two_round_threshold": (
        "threshold co-training: NB fits are broadcast aggregates, the "
        "promotion flag is a stateless filter (no boundary collects), "
        "round-2 pool is one o_orderkey semi-join, summaries are "
        "bounded groupBys over checkpointed scored pools"
    ),
    "item_clustering_coefficient": (
        "clustering coefficient: checkpointed edge list feeds the "
        "wedge self-join and the closing-edge equi-join probe; "
        "per-node counts + integer coefficient, top-k is "
        "TakeOrderedAndProject"
    ),
    "retrieval_eval_mrr": (
        "retrieval eval: workload terms broadcast into the postings "
        "(candidates term-bounded), per-query rank window over the "
        "bounded candidate sets, qrels derived from the same matched "
        "relation — one tokenize feeds everything"
    ),
    "text_tfidf_portable_norms": (
        "portable TF-IDF: two hash-keyed aggregates (doc x bucket, "
        "bucket) + a broadcast join against the <= 512-row DF table; "
        "norms are integer sums — text never joins"
    ),
    "kmv_distinct_users_audit": (
        "KMV sketch: hash+distinct + per-type bottom-k rank window; "
        "the exact-audit pass joins a BROADCAST 5-row estimate table "
        "— constant-size sketch state per group"
    ),
    "zipf_term_slope": (
        "Zipf fit: one token explode + term groupBy, top-100 via "
        "TakeOrderedAndProject (no global sort), quantized-integer "
        "OLS over the bounded 100-row grid"
    ),
    "feature_mi_ranking": (
        "MI ranking: three fact-scale groupBys to <= 36-cell "
        "contingency grids; marginals re-aggregate and broadcast back "
        "onto the grid; quantized order-free contribution sum"
    ),
    "similarity_lsh_portable_pairs": (
        "hyperplane sign-LSH: dim x 32 sign table broadcast into the "
        "exploded quantized coordinates, per-(vec, hyperplane) bit "
        "aggregate, band-bucket equi-join for candidates, "
        "candidate-bounded exact qdot verify + broadcast norms; "
        "TakeOrderedAndProject for the top-20. NOTE: the returned "
        "DataFrame is eagerly localCheckpoint'd (lineage release "
        "contract), so the post-hoc physical plan below is just the "
        "checkpoint scan. Shape evidence lives in the construction "
        "itself — candidates are produced ONLY by the (band, bkey) "
        "equi-join on bounded 8-bit band keys, never a corpus-scale "
        "nested loop — and in the four driver-sim gates the entry "
        "hash-matches bit-identically (incl. shuffle-7 and "
        "strict-codegen)"
    ),
    "ssl_stump_split_audit": (
        "stump split grid: one fact-scale groupBy to the (f1,f2,cls) "
        "grid (~180 cells), broadcast 16-row split table, all scoring "
        "on the bounded grid; 16-row rank window"
    ),
    "ssl_stump_one_round_threshold": (
        "stump promotion: split grid as above + a bounded "
        "winner collect; ONE pass assigns the unlabeled pool to "
        "leaves against the broadcast 2-row leafstats table"
    ),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all_queries()
    spark = get_spark(app_name="dump-plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — explain('formatted') evidence at sf0.1 (local[8])",
        "",
        "Generated by scripts/dump_plans.py; regenerate after plan-affecting changes.",
        "",
    ]
    for name, why in PICKS.items():
        if name == "dedup_ngram_jaccard_pairs":
            # the registered query checkpoints its result (eager cache
            # release, r4), so its final plan is a checkpoint scan;
            # show the lazy dataflow built through the SAME helper
            from tfm_semisup_spark.queries.dedup import ngram_jaccard_plan

            df = ngram_jaccard_plan(spark, sf_dir)
        elif name == "dedup_cluster_components":
            # the query's final plan is just its checkpoint scan; show
            # one (lazy) propagation round instead
            from tfm_semisup_spark.operators.components import round_plan

            # checkpoint the pair input first: inside the operator each
            # round reads checkpointed edges/labels, so this shows the
            # true per-round tree, not the upstream dedup pipeline
            df = round_plan(
                QUERIES["dedup_ngram_jaccard_capped"](spark, sf_dir).localCheckpoint()
            )
        else:
            df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        out += [f"## {name}", "", f"_{why}_", "", "```", tree.strip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
