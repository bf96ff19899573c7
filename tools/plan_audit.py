"""Physical-plan audit: verify that headline queries compile to the plans
we want at 100 TB — filters pushed to the parquet scan, columns pruned,
small dimensions broadcast, aggregates partial+final, pipelines inside
WholeStageCodegen.

Usage:
    python tools/plan_audit.py            # audit all, print report
    python tools/plan_audit.py --md       # also rewrite PLANS.md

Each audited query declares expectations; the audit greps the FORMATTED
explain output.  This is the executable form of "explain the plan and
iterate until it's the plan you'd want" — run it after touching any
operator.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from distributed_graph_db_c_spark.queries.dedup import _grade_corpus
from distributed_graph_db_c_spark.registry import REGISTRY, _ensure_loaded
from distributed_graph_db_c_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

# plan nodes that ship rows to a Python worker
_PYTHON_NODES = r"FlatMapCoGroupsInPandas|MapInPandas|ArrowEvalPython|BatchEvalPython"

# Audited frames that are not registered queries: a frame a query builds
# before it checkpoints it, whose scan the query's own plan no longer shows.
FRAMES = {
    "dedup_grade_corpus": lambda spark: _grade_corpus(spark, SF_DIR),
}

# query (or FRAMES name) -> list of (label, regex expected in formatted plan, must_match)
EXPECTATIONS: dict[str, list[tuple[str, str, bool]]] = {
    "rel_q6_forecast_revenue": [
        # tight filter on a fact scan MUST reach parquet
        ("filter pushdown", r"PushedFilters: \[.*(GreaterThan|LessThan|IsNotNull)", True),
        # 4-column query over a 16-column table: scan schema pruned
        ("column pruning", r"ReadSchema: [^\n]*l_quantity", True),
        ("no full-width scan", r"ReadSchema: [^\n]*l_comment", False),
        ("codegen", r"\*\(\d+\)", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_q5_local_supplier_volume": [
        # region/nation are tiny dims — the join tree must broadcast them
        ("broadcast dims", r"BroadcastHashJoin", True),
        ("pushdown on region", r"PushedFilters: \[[^\]]*EqualTo\(r_name", True),
    ],
    "rel_q1_pricing_summary": [
        ("pushdown shipdate", r"PushedFilters: \[[^\]]*l_shipdate", True),
        ("partial agg", r"partial_(sum|count|avg)", True),
        ("codegen", r"\*\(\d+\)", True),
    ],
    "rel_q18_large_volume_customer": [
        ("no cartesian", r"CartesianProduct", False),
        ("codegen", r"\*\(\d+\)", True),
    ],
    "rel_q3_shipping_priority": [
        ("pushdown dates", r"PushedFilters: \[[^\]]*(o_orderdate|l_shipdate)", True),
        ("top-k as TakeOrdered", r"TakeOrderedAndProject", True),
    ],
    "text_quality_score": [
        # whole text pipeline is expression-only: a single codegen'd stage
        ("no python udf", r"BatchEvalPython", False),
        ("no pandas udf", r"ArrowEvalPython", False),
    ],
    "sim_topk_bruteforce": [
        ("no python udf", r"BatchEvalPython", False),
        ("top-k as TakeOrdered", r"TakeOrderedAndProject", True),
    ],
    "dedup_exact": [
        ("partial agg", r"partial_", True),
        ("no shuffle of text", r"Exchange hashpartitioning[^\n]*text", False),
    ],
    "asof_join_events": [
        # union-and-window: exactly ONE exchange on user_id feeding the sort
        ("single key shuffle", r"hashpartitioning\(user_id", True),
        ("window over union", r"RunningWindowFunction|Window", True),
    ],
    "range_join_events": [
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
    ],
    "rel_q7_volume_shipping": [
        # nation joined twice under two roles: BOTH copies broadcast
        ("broadcast dims", r"BroadcastHashJoin", True),
        ("pushdown shipdate", r"PushedFilters: \[[^\]]*l_shipdate", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "rel_q8_market_share": [
        ("pushdown p_type", r"PushedFilters: \[[^\]]*EqualTo\(p_type", True),
        ("pushdown orderdate", r"PushedFilters: \[[^\]]*o_orderdate", True),
        ("broadcast dims", r"BroadcastHashJoin", True),
    ],
    "rel_q9_product_profit": [
        # LIKE '%red%' pushes to parquet as StringContains
        ("pushdown contains", r"PushedFilters: \[[^\]]*StringContains\(p_name,red\)", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_q12_late_lines_by_class": [
        # absolute shipdate range must reach the scan even though the
        # ship>order+30d predicate is cross-column (post-join only)
        ("pushdown shipdate range", r"PushedFilters: \[[^\]]*l_shipdate", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_q13_order_count_distribution": [
        # outer join must not degrade; both agg levels partial+final
        ("no cartesian", r"CartesianProduct", False),
        ("partial agg", r"partial_count", True),
    ],
    "rel_q15_top_supplier": [
        # the scalar MAX joins back via a broadcast, never a shuffle
        ("scalar broadcast", r"BroadcastHashJoin|BroadcastNestedLoopJoin", True),
        ("pushdown shipdate", r"PushedFilters: \[[^\]]*l_shipdate", True),
    ],
    "rel_q16_supplier_cnt_by_part": [
        # NOT IN compiles to a broadcast anti join on the tiny bad-supplier set
        ("broadcast anti", r"BroadcastHashJoin[^\n]*LeftAnti", True),
        ("pushdown size list", r"PushedFilters: \[[^\]]*In\(p_size", True),
    ],
    "rel_q21_waiting_suppliers": [
        # decorrelated EXISTS/NOT EXISTS: no nested-loop artifacts
        ("no cartesian", r"CartesianProduct|BroadcastNestedLoopJoin", False),
        ("pushdown status", r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_q2_best_supplier": [
        ("no cartesian", r"CartesianProduct", False),
        ("pushdown p_size", r"PushedFilters: \[[^\]]*LessThan\(p_size", True),
    ],
    "pipeline_training_prep": [
        # quality scoring + token stats fuse into the scan stage; dedup is
        # one window shuffle; no Python anywhere
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("window dedup", r"RunningWindowFunction|Window", True),
        ("partial agg", r"partial_", True),
        # fingerprint computed pre-shuffle; the document body never rides
        # the dedup exchange
        ("no shuffle of text", r"Exchange hashpartitioning\(text", False),
    ],
    "skew_salted_join_revenue": [
        # the salt explode must NOT degrade the dim join to nested-loop
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("generator for salts", r"Generate explode", True),
    ],
    "rel_q4_late_shipping": [
        # r15: the old "pushdown orderdate" line pinned an
        # IsNotNull(o_orderdate) that existed only as a
        # constraint-propagation inference from the join condition (the
        # query has no user predicate on o_orderdate, and the column is
        # never null, so the pushdown skipped zero rows); with
        # spark.sql.constraintPropagation.enabled=false (session.py,
        # r15 — planning-width cost) the artifact disappears while the
        # join shape and results are unchanged.  Pin the shape instead.
        ("semi not inner", r"LeftSemi", True),
        ("no cartesian", r"CartesianProduct", False),
        ("codegen", r"\*\(\d+\)", True),
    ],
    "rel_q10_returned_items": [
        ("pushdown returnflag", r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag", True),
        ("broadcast nation", r"BroadcastHashJoin", True),
        ("top-k as TakeOrdered", r"TakeOrderedAndProject", True),
    ],
    "rel_q14_promo_revenue": [
        ("pushdown shipdate", r"PushedFilters: \[[^\]]*l_shipdate", True),
        ("partial agg", r"partial_", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "rel_q19_disjunctive_filter": [
        # OR-of-ANDs predicate: each disjunct's common conjuncts still
        # reach the scans; the join itself stays hash-based
        ("hash join", r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "rel_q20_heavy_suppliers": [
        ("semi join", r"LeftSemi", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "rel_q22_rich_inactive": [
        ("anti join", r"LeftAnti", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_rollup_revenue_region_nation": [
        # rollup compiles to ONE scan + Expand, not one pass per level
        ("expand", r"Expand", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_cube_status_priority": [
        ("expand", r"Expand", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_order_pagination": [
        ("global sort bounded", r"TakeOrderedAndProject|GlobalLimit", True),
    ],
    "rel_semi_join_open_orders": [
        ("semi join", r"LeftSemi", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "rel_anti_join_customers_no_orders": [
        ("anti join", r"LeftAnti", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "rel_window_running_total": [
        # one exchange on the partition key feeding the window sort
        ("window op", r"RunningWindowFunction|Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_window_order_gap_days": [
        ("window op", r"RunningWindowFunction|Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_scalar_string_funcs": [
        # scalar surface is pure codegen projection — no shuffle at all
        ("no exchange", r"Exchange", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_events_sessionization": [
        ("window op", r"RunningWindowFunction|Window", True),
        ("partial agg", r"partial_", True),
    ],
    "text_token_stats": [
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no exchange", r"Exchange", False),  # per-row stats: pure projection
    ],
    "text_tokenizer_whitespace_edge": [
        # r12: four tokenized variants as codegen expression columns in
        # ONE scan + one partial-agg groupBy(lang) — no join, no window,
        # no Python; the shuffle carries |langs| rows
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no join", r"Join", False),
        ("no window", r"\bWindow\b", False),
        ("partial agg", r"partial_", True),
        ("column pruning", r"ReadSchema: [^\n]*lang", True),
        ("no id column read", r"ReadSchema: [^\n]*doc_id", False),
    ],
    # BFS and DFS leaves fold the edges into graph rows and walk them with
    # Catalyst expressions: no Python worker, no superstep checkpoints
    "graph_bfs_order_chain": [
        ("no python kernel", _PYTHON_NODES, False),
        ("no superstep checkpoint", r"ExistingRDD", False),
    ],
    "graph_bfs_fleet_regions": [
        ("no python kernel", _PYTHON_NODES, False),
        ("no superstep checkpoint", r"ExistingRDD", False),
    ],
    "graph_dfs_leaves_order_chain": [
        ("no python kernel", _PYTHON_NODES, False),
        ("no superstep checkpoint", r"ExistingRDD", False),
    ],
    "graph_dfs_preorder": [
        # the sequential per-graph kernel is ONE grouped-map pandas stage
        # (parallelism axis = fleet of graphs), never a join blow-up
        ("grouped-map pandas kernel", r"FlatMapGroupsInPandas", True),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "sample_deterministic_split": [
        # hash-bucket split is pure codegen expressions + one partial agg
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("partial agg", r"partial_", True),
    ],
    "rel_events_type_matrix": [
        # pivot-as-conditional-agg: one scan, one agg, no per-value passes
        ("partial agg", r"partial_sum", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "dedup_embedding_cosine_pairs": [
        # LSH pairs dedup: candidates via bucket self-EQUIJOIN, never an
        # all-pairs cross join (the O(n^2) twin is sim_cosine_pairs)
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        # scoring is the codegen left-fold, not a Python UDF
        ("no python udf", r"BatchEvalPython", False),
    ],
    "sim_ann_batch_topk": [
        # query batch broadcast to the bucketed index; per-qid rank is a
        # window, candidates never a cross join
        ("broadcast probe", r"BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("per-query rank window", r"RunningWindowFunction|Window", True),
    ],
    "sketch_quantiles_totalprice": [
        # GK sketch merges map-side: the shuffle carries sketch bytes,
        # not the value stream
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    # --- round 4 ---
    "text_repetition_stats": [
        # round-4 rewrite: gram counts are codegen slice+zip per row; the
        # top-term frequency is explode + partial-agg groupBy (the bench
        # killed the "shuffle-free" HOF version: interpreted lambdas cost
        # 23 s at sf0.1) — pin codegen + partial agg + no lambdas
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("partial agg", r"partial_", True),
        ("no interpreted lambda", r"LambdaFunction|transform\(", False),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
    ],
    "text_pii_scrub": [
        # regex scrub is map-side codegen: no exchange, no UDF
        ("no shuffle", r"Exchange", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "text_decontaminate_overlap": [
        # eval-set grams broadcast; the corpus side never shuffles its
        # exploded grams except for the per-doc count
        ("broadcast eval grams", r"BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("partial count", r"partial_", True),
    ],
    "text_fuzzy_join_edit1": [
        # deletion-neighborhood is an EQUIJOIN: no cartesian anywhere
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "text_tfidf_topk": [
        # idf joined back broadcast; top-k compiles to TakeOrdered
        ("broadcast idf", r"BroadcastHashJoin", True),
        ("top-k as TakeOrdered", r"TakeOrderedAndProject", True),
        ("partial agg", r"partial_", True),
    ],
    "sample_stratified_mix": [
        # per-stratum threshold folds into the scan stage: one exchange
        # (the final rollup), no UDF
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("partial agg", r"partial_", True),
    ],
    "rel_bloom_pruned_join": [
        # bloom probe is codegen bit tests BEFORE the join's exchange
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("partial agg", r"partial_", True),
    ],
    "mm_wav_decode_features": [
        # decode runs as Arrow-batched mapInPandas (the one sanctioned
        # Python seam), never row-at-a-time Python eval
        ("arrow batched", r"MapInPandas|ArrowEvalPython", True),
        ("no row-python udf", r"BatchEvalPython", False),
    ],
    # --- round 5 ---
    "mm_png_decode_stats": [
        ("arrow batched", r"MapInPandas|ArrowEvalPython", True),
        ("no row-python udf", r"BatchEvalPython", False),
    ],
    "ts_rolling_7d_revenue": [
        # raw orders collapse to per-day rows BEFORE the unpartitioned
        # window — the partial agg is what bounds the window input
        ("partial agg first", r"partial_", True),
        ("range window", r"Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "ts_zscore_outliers": [
        # 5 moment rows broadcast back over the stream — no second
        # shuffle of the events
        ("broadcast moments", r"BroadcastHashJoin", True),
        ("partial moments", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "ts_interpolate_linear": [
        # backward+forward fills share one per-key sort; everything codegen
        ("per-key window", r"Window", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "sim_centroid_by_label": [
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_median_per_group": [
        ("rank window", r"Window", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
    ],
    "rel_pivot_monthly_revenue": [
        # pinned pivot values: single two-phase aggregate, no
        # domain-discovery pass, no join at all
        ("partial agg", r"partial_", True),
        ("no join", r"Join", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_ntile_deciles": [
        ("ntile window", r"Window", True),
        ("partial agg", r"partial_", True),
    ],
    "storage_scd_latest_version": [
        ("per-key window", r"Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "storage_scd2_history": [
        # tight filters reach the scan; LEAD is one per-entity window
        ("filter pushdown", r"PushedFilters: \[[^\]]*(user_id|event_type)", True),
        ("validity window", r"Window", True),
    ],
    "storage_snapshot_diff": [
        # the diff is ONE equi full-outer join on the key
        ("full outer equi", r"FullOuter", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("partial agg", r"partial_", True),
    ],
    "pipeline_sequence_packing": [
        ("running-sum window", r"Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "text_char_ngram_entropy": [
        # gram build is slice+zip codegen — zero lambdas, zero UDFs; two
        # key-partitioned aggs both partial
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no interpreted lambda", r"LambdaFunction|transform\(", False),
        ("partial agg", r"partial_", True),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
    ],
    "dedup_containment_pairs": [
        # shingle-equijoin candidates, never all-pairs
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("partial agg", r"partial_", True),
    ],
    "dedup_substring_windows": [
        # hashed-window equijoin; exchange carries (id, long)
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "sim_quantize_int8": [
        # one map stage of unpacked codegen columns + one partial-agg
        # groupBy: no join, no UDF anywhere
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no join", r"Join", False),
        ("partial agg", r"partial_", True),
    ],
    "text_sentence_stats": [
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("partial agg", r"partial_", True),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
    ],
    "graph_copurchase_pairs": [
        # basket self-join keys on the ORDER (bounded fan-out), top-20
        # compiles to TakeOrdered
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("top-k as TakeOrdered", r"TakeOrderedAndProject", True),
        ("partial agg", r"partial_", True),
    ],
    "ts_ewma8_value": [
        ("per-key window", r"Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no join", r"Join", False),
    ],
    "rel_corr_quantity_price": [
        ("partial moments", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*l_quantity", True),
        ("no full-width scan", r"ReadSchema: [^\n]*l_comment", False),
    ],
    "rel_string_agg_ordered": [
        ("pushdown custkey filter", r"PushedFilters: \[[^\]]*", True),
        ("partial agg", r"partial_", True),
    ],
    # -- round 6 --
    "mm_ahash_pairs_from_hashes": [
        # pigeonhole banding: quarter-bucket equijoin, never all-pairs;
        # the synthetic hash derivation is pure codegen
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("pushdown doc_id bound", r"PushedFilters: \[[^\]]*doc_id", True),
    ],
    "text_clean_normalize": [
        # pure per-row map: no shuffle at any scale
        ("no exchange", r"Exchange", False),
        ("no join", r"Join", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
    ],
    "pipeline_domain_mixture": [
        # per-source stats broadcast back onto the scan; membership filter
        # is map-side — no row-level shuffle.  r12: the corpus totals ride
        # the broadcast-1-row-scalar idiom (a BroadcastNestedLoopJoin of a
        # 1-row frame — sanctioned), REPLACING the unpartitioned window
        ("stats broadcast", r"BroadcastHashJoin", True),
        ("scalar broadcast not cartesian", r"CartesianProduct", False),
        ("no window at all", r"\bWindow\b", False),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_price_histogram": [
        ("no join", r"Join", False),
        ("partial agg", r"partial_", True),
        ("column pruning", r"ReadSchema: [^\n]*l_extendedprice", True),
        ("no full-width scan", r"ReadSchema: [^\n]*l_comment", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "sketch_freq_items_brand": [
        # per-partition MG summaries (the one sanctioned Arrow step),
        # merged by a plain partial-aggregatable groupBy-sum; the two
        # scalar re-offsets broadcast — nothing may go cartesian.  r12:
        # the (k+1)-th-largest spare is orderBy.limit (a TakeOrdered
        # heap) + conditional min, REPLACING the unpartitioned
        # row_number window in _retruncate
        ("arrow summarize step", r"MapInPandas", True),
        ("merge is partial agg", r"partial_sum", True),
        ("kth largest via TakeOrdered", r"TakeOrderedAndProject", True),
        ("no window at all", r"\bWindow\b", False),
        ("no cartesian", r"CartesianProduct", False),
        ("column pruning", r"ReadSchema: [^\n]*p_brand", True),
        ("no full-width scan", r"ReadSchema: [^\n]*p_name", False),
    ],
    "rel_array_hof": [
        # the whole lambda pipeline (transform/filter/aggregate) stays
        # JVM-side — a Python eval node here means the HOFs fell out of
        # codegen into a UDF
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("grouped collect partial", r"partial_collect_list|ObjectHashAggregate", True),
        ("column pruning", r"ReadSchema: [^\n]*l_quantity", True),
        ("no full-width scan", r"ReadSchema: [^\n]*l_extendedprice", False),
    ],
    "rel_mode_order_priority": [
        # count-then-rank: the groupBy pair count is partial-aggregatable,
        # so the window only ever sees one row per distinct pair
        ("partial agg", r"partial_count", True),
        ("rank over distinct pairs", r"Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_skyline_parts": [
        # frontier membership comes back as a broadcast semi-structure;
        # the O(n^2) NOT EXISTS of the oracle must NOT appear as a plan
        ("alive set broadcast", r"BroadcastHashJoin", True),
        ("no cartesian", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("partial agg", r"partial_min", True),
    ],
    "rel_profile_orders": [
        # columnar-minded profile: five single-column legs, each a plain
        # two-stage HASH aggregate — the 6x-row Expand + sort-based
        # catch-all form this replaced must NOT come back
        ("no expand", r"Expand", False),
        ("no first() catch-alls", r"first\(", False),
        # numeric/date legs hash-aggregate; string min/max legs stay
        # sort-based by engine rule (string agg buffers aren't
        # hash-supported) over post-partial single-column rows
        ("numeric leg hash agg", r"HashAggregate[^\n]*o_custkey", True),
        ("partial agg", r"partial_", True),
        ("no join", r"Join", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "pipeline_topk_per_domain": [
        # two-stage partial top-k: NO window over raw rows (the skew
        # trap this gate exists to avoid) and no Python step
        ("no raw-row window", r"Window", False),
        ("grouped slice partial", r"ObjectHashAggregate", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*n_chars", True),
        ("no text payload scan", r"ReadSchema: [^\n]*text", False),
    ],
    "storage_zonemap_stats": [
        ("partial agg", r"partial_(min|max|count)", True),
        ("no join", r"Join", False),
        ("column pruning", r"ReadSchema: [^\n]*l_shipdate", True),
        ("no full-width scan", r"ReadSchema: [^\n]*l_quantity", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "storage_constraint_audit": [
        # five scalar checks share one scan; FK check is a counted anti join
        ("anti join for FK", r"LeftAnti", True),
        ("partial agg", r"partial_", True),
        ("no cartesian", r"CartesianProduct", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "storage_table_checksum": [
        # md5+conv fingerprint is pure codegen; XOR partial-aggregates
        ("partial xor", r"partial_bit_xor", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no join", r"Join", False),
        ("codegen", r"\*\(\d+\)", True),
    ],
    # (sim_ann_ivf_persisted's partition-pruned probe is asserted in
    # tests/test_dedup_similarity.py instead: the gate returns a
    # localCheckpoint after scratch cleanup, which hides the scan here.)
    "sample_weighted_pps": [
        # stats broadcast onto the scan; membership filter map-side
        ("no row shuffle before filter", r"BroadcastNestedLoopJoin", True),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*n_chars", True),
        ("no text payload scan", r"ReadSchema: [^\n]*text", False),
    ],
    "storage_zonemap_incremental": [
        # the merge consumes the materialized base stats + the delta's
        # partial agg — never a rescan join against history
        ("partial agg", r"partial_(min|max|count|sum)", True),
        ("no join", r"Join", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
    ],
    "rel_cumulative_distinct_users": [
        # first-seen rewrite: two partial aggs; the window runs over the
        # tiny day spine, never rows x days, and no Expand appears (the
        # rewrite avoids a distinct aggregate entirely)
        ("partial agg", r"partial_(min|count)", True),
        ("no distinct expand", r"Expand", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*user_id", True),
        ("no props payload scan", r"ReadSchema: [^\n]*props", False),
    ],
    # --- round 7 ---
    "dedup_embedding_pairs_grade": [
        # dedup-grade operating point: same plan shape contract as the
        # 0.45 stress gate — bucket self-EQUIJOIN candidates (never
        # all-pairs), codegen left-fold scoring; the planted-corpus
        # construction must also stay JVM-side (zip_with, no UDF)
        ("equi not theta", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no nested loop", r"BroadcastNestedLoopJoin|CartesianProduct", False),
        ("no python udf", r"BatchEvalPython", False),
    ],
    # (dedup_embedding_groups_grade: its candidate pairs return through
    # localCheckpoint before the min-label CC tail — plan pinned in
    # tests/test_dedup_similarity.py, not greppable here.)
    "text_bm25_topk": [
        # query-term filter reaches the scan region (explode feeds only
        # matching tokens to the tf shuffle); scoring is pure integer
        # codegen; top-k compiles to TakeOrderedAndProject
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("partial agg", r"partial_", True),
        ("top-k as TakeOrdered", r"TakeOrderedAndProject", True),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
        ("no source payload scan", r"ReadSchema: [^\n]*source", False),
    ],
    "sample_reservoir_per_group": [
        # two-stage partial top-k: bottom-20-by-hash per (lang, input
        # partition) then per lang — no row_number window over raw rows,
        # no python
        ("partial agg", r"partial_", True),
        ("no raw-row window", r"RunningWindowFunction", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*doc_id", True),
        ("no text payload scan", r"ReadSchema: [^\n]*text", False),
    ],
    # --- round 8 ---
    # (source_xml_roundtrip and dedup_incremental_pairs both return a
    # localCheckpoint after scratch/table cleanup, which hides the scan
    # here; the incremental gate's <=1-Exchange delta-only-shuffle plan
    # contract is pinned in tests/test_dedup_similarity.py, and the XML
    # scan has no pruning surface to pin — the roundtrip reads the whole
    # exported row element by design.)
    "rel_events_cohort_retention": [
        # one hash-agg pass on user_id computes cohort AND active weeks
        # together — no events-vs-first-seen self-join, no fact rescan
        ("no join", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*user_id", True),
        ("no props payload scan", r"ReadSchema: [^\n]*props", False),
    ],
    "rel_corr_matrix": [
        # ONE moment pass: a single partial+final aggregate subtree,
        # pair rows by explode — never a union of six aggregate scans
        ("partial agg", r"partial_", True),
        # numbered-node form: the audit text concatenates formatted +
        # simple explains, and simple's "FileScan parquet" would false-
        # positive a bare "Scan parquet.*Scan parquet" pattern
        ("single scan", r"(?s)\(\d+\) Scan parquet.*\(\d+\) Scan parquet", False),
        ("no union", r"Union", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*l_quantity", True),
        ("no full-width scan", r"ReadSchema: [^\n]*l_comment", False),
    ],
    "text_ngram_topk": [
        # codegen bigram transform; count is map-side partial; top-10
        # per lang is the two-stage slice merge — no raw-row window
        ("partial agg", r"partial_", True),
        ("no raw-row window", r"RunningWindowFunction", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
        ("no doc_id scan", r"ReadSchema: [^\n]*doc_id", False),
    ],
    # (sim_covariance_matrix: the returned DF is the driver-merged
    # 2,080-row matrix (LocalTableScan) — the distributed moment pass's
    # shape (mapInPandas over a pruned scan, one row per partition) is
    # asserted in tests/test_round8_properties.py.)
    "sim_pca_project": [
        # projection is a pure broadcast-literal map stage: codegen dot
        # products over the scan — no shuffle, no Python in the plan
        ("no exchange", r"Exchange", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*embedding", True),
        ("no label scan", r"ReadSchema: [^\n]*label", False),
    ],
    "rel_events_attribution": [
        # running struct-max over the per-user stream — one window, no
        # purchases-to-clicks self-join, no second scan of events
        ("window", r"Window", True),
        ("no join", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False),
        ("single scan", r"(?s)\(\d+\) Scan parquet.*\(\d+\) Scan parquet", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no props payload scan", r"ReadSchema: [^\n]*props", False),
    ],
    "text_oov_rate": [
        # scoring pass probes a broadcast literal vocabulary — the term
        # join would hot-spot on stopwords; there must be NO join and no
        # raw-term shuffle in the returned plan
        ("no join", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False),
        ("no exchange", r"Exchange", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
        ("no source scan", r"ReadSchema: [^\n]*source", False),
    ],
    "skew_key_profile": [
        # profiling a skewed distribution must not itself hot-spot: the
        # heavy-key list is the two-stage slice merge, the stats row is
        # a broadcast back — no row_number window over the key spectrum
        ("partial agg", r"partial_", True),
        ("no raw-row window", r"RunningWindowFunction", False),
        ("broadcast stats", r"BroadcastNestedLoopJoin", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*o_custkey", True),
        ("no comment scan", r"ReadSchema: [^\n]*o_comment", False),
    ],
    "sim_knn_gather_mean": [
        # queries broadcast onto the corpus scan; top-k per query is the
        # two-stage slice merge; the per-dim mean is a partial agg —
        # never a row_number window over the scored stream
        ("broadcast queries", r"BroadcastNestedLoopJoin|BroadcastHashJoin", True),
        ("no raw-row window", r"RunningWindowFunction|\bWindow\b", False),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no label scan", r"ReadSchema: [^\n]*label", False),
    ],
    "sim_knn_gather_mean_ann": [
        # candidates from bucket EQUIJOINS (never a cartesian scorer);
        # same window-free partial-agg tail as the brute gate.  (The
        # LSH bucket-assignment Arrow kernel IS in this plan — one of
        # the documented deliberate pandas kernels — so no no-python
        # pin here, unlike the expression-only gates.)
        ("no cartesian", r"CartesianProduct", False),
        ("hash join candidates", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("partial agg", r"partial_", True),
    ],
    "rel_events_transition_matrix": [
        # one per-user window; count is map-side partial; the row
        # normalisation runs over the |types|^2 matrix, never raw rows
        ("window", r"Window", True),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no props payload scan", r"ReadSchema: [^\n]*props", False),
        ("no value scan", r"ReadSchema: [^\n]*value", False),
    ],
    "ts_time_weighted_avg": [
        # one per-user window sort then a partial-agg groupBy; exact
        # integer microsecond deltas, decimal weighted sums — no python
        ("partial agg", r"partial_", True),
        ("window", r"Window", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*value", True),
        ("no props payload scan", r"ReadSchema: [^\n]*props", False),
    ],
    "dedup_minhash_survivors_quality": [
        # survivor election is a partial-agg max_by over the cluster
        # mapping plus a broadcast join back — never a cartesian, never
        # a window over raw corpus rows
        ("no cartesian", r"CartesianProduct|BroadcastNestedLoopJoin", False),
        ("partial agg", r"partial_", True),
        ("broadcast survivors", r"BroadcastHashJoin", True),
        ("no raw-row window", r"RunningWindowFunction", False),
    ],
    # -- round 9 -------------------------------------------------------------
    "rel_events_transition_bigram": [
        # the SAME single per-user window sort feeds LEAD(1) and
        # LEAD(2): exactly one Window over raw events; count is a
        # map-side partial; normalisation runs over the types^3 cube
        ("window", r"Window", True),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("no props payload scan", r"ReadSchema: [^\n]*props", False),
        ("no value scan", r"ReadSchema: [^\n]*value", False),
    ],
    "text_oov_rate_tokenizer": [
        # tokenizer-scale V: the vocab probe MUST be a broadcast hash
        # join (the measured crossover from text_oov_rate's literal
        # loop) — never a shuffled term join (term frequency is
        # maximally skewed) — and the re-agg keys on doc_id
        ("broadcast vocab join", r"BroadcastHashJoin", True),
        ("no shuffled term join", r"SortMergeJoin|ShuffledHashJoin", False),
        ("partial agg", r"partial_", True),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
        ("no source scan", r"ReadSchema: [^\n]*source", False),
    ],
    "sketch_quantiles_doclen_by_lang": [
        # one GK sketch per (partition, lang) merged in the partial
        # aggregate: values never funnel through a global sort
        ("partial sketch agg", r"partial_percentile_approx|partial_", True),
        ("no global sort", r"\bSort \[n_chars", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("column pruning", r"ReadSchema: [^\n]*n_chars", True),
        ("no doc_id scan", r"ReadSchema: [^\n]*doc_id", False),
    ],
    # (sim_knn_gather_mean_ivf returns a localCheckpoint — its
    # partition-pruned scan is plan-pinned in
    # tests/test_round9_properties.py instead, the standing rule for
    # checkpoint-returning gates.)
    "sim_kmeans_clusters": [
        # the returned plan is the final assignment scan + summary: one
        # Arrow-batched integer-assignment kernel (a documented
        # deliberate pandas kernel), then a map-side partial aggregate
        # — never a window or join over corpus rows
        ("partial agg", r"partial_", True),
        ("no join", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False),
        ("no raw-row window", r"RunningWindowFunction|\bWindow\b", False),
        ("column pruning", r"ReadSchema: [^\n]*embedding", True),
        ("no label scan", r"ReadSchema: [^\n]*label", False),
    ],
    "sample_cluster_balanced": [
        # per-cluster quota selection rides the two-stage slice merge:
        # partial aggregates only, no window over raw corpus rows; the
        # count side joins back on the 8-row cluster summary
        ("partial agg", r"partial_", True),
        ("no raw-row window", r"RunningWindowFunction|\bWindow\b", False),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "dedup_semantic_survivors": [
        # within-CELL pair join only: an equi-join on cluster, never a
        # cartesian; exact cosine rescoring stays in codegen
        ("no cartesian", r"CartesianProduct|BroadcastNestedLoopJoin", False),
        ("cluster equijoin", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
    ],
    # (sim_ivf_index_append / sim_ivf_retrain_swap return
    # localCheckpoints — the maintained index's partition-pruned probe
    # scan, delta-sized append, and swap semantics are pinned in
    # tests/test_round10_properties.py instead, the standing rule for
    # checkpoint-returning gates.)
    "dedup_semantic_decontaminate": [
        # candidates from a bucket equijoin between the frames — never
        # an eval x train cartesian; exact rescoring stays in codegen
        # (the bucketing pandas_udf is the documented Arrow kernel the
        # LSH family shares — only row-at-a-time Python is banned)
        ("no cartesian", r"CartesianProduct|BroadcastNestedLoopJoin", False),
        ("bucket equijoin", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", True),
        ("no row-python udf", r"BatchEvalPython", False),
    ],
    "dedup_grade_corpus": [
        # the corpus dedup_semantic_decontaminate checkpoints before its
        # join (so that plan reads an ExistingRDD): its embeddings scan
        # reads only the columns it needs
        ("column pruning", r"ReadSchema: [^\n]*embedding", True),
    ],
    "dedup_decontaminate_by_source": [
        # the bounded provenance checkpoint BROADCASTS onto the
        # documents metadata projection (the text column never loads);
        # the rollup is a partial agg into <=|sources| groups; the
        # share denominator rides the broadcast 1-row scalar idiom
        # (the only nested-loop in the plan, 1-row by construction)
        ("broadcast provenance", r"BroadcastHashJoin", True),
        ("no text scan", r"ReadSchema: [^\n]*text", False),
        ("partial agg", r"partial_", True),
        ("no row-python udf", r"BatchEvalPython", False),
        ("no cartesian", r"CartesianProduct", False),
    ],
    "sketch_quantiles_rollup_lang_source": [
        # every rollup level reads the CHECKPOINTED leaf histogram:
        # no parquet scan of documents survives in the composed plan,
        # no python boundary anywhere, windows partition by group over
        # histogram cells (domain-bounded, never raw rows)
        ("no raw documents scan", r"Scan parquet[^\n]*documents", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("grouped window", r"\bWindow\b", True),
        ("partial agg", r"partial_", True),
    ],
    "pipeline_token_budget_select": [
        # one codegen raw scan feeds the slim (lang, doc_id, n_toks,
        # quality) rows; the greedy prefix is a per-lang running-sum
        # window over those rows — no python boundary, no cartesian
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("per-lang window", r"\bWindow\b", True),
        ("no cartesian", r"CartesianProduct|BroadcastNestedLoopJoin", False),
        ("column pruning", r"ReadSchema: [^\n]*text", True),
    ],
    "sketch_token_quantiles_rollup": [
        # the derived-metric twin: token counting is a codegen
        # expression inside the single raw scan feeding the leaf
        # histogram checkpoint; the composed rollup plan then never
        # touches documents again and crosses no Python boundary
        ("no raw documents scan", r"Scan parquet[^\n]*documents", False),
        ("no python udf", r"BatchEvalPython|ArrowEvalPython", False),
        ("grouped window", r"\bWindow\b", True),
        ("partial agg", r"partial_", True),
    ],
}


def formatted_plan(df) -> str:
    """formatted (scan details: PushedFilters/ReadSchema) + simple (codegen
    stars ``*(n)``) explain output, concatenated for pattern checks."""
    qe = df._jdf.queryExecution()
    jvm = df._sc._jvm
    return jvm.PythonSQLUtils.explainString(qe, "formatted") + "\n" + \
        jvm.PythonSQLUtils.explainString(qe, "simple")


def audit(names: list[str] | None = None) -> tuple[int, int, list[str]]:
    _ensure_loaded()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps pre-execution plans in AdaptiveSparkPlan(isFinalPlan=false)
    # which hides codegen annotation; audit the static plan instead (AQE
    # stays ON everywhere outside this tool).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    lines: list[str] = []
    n_pass = n_fail = 0
    for name, checks in EXPECTATIONS.items():
        if names and name not in names:
            continue
        df = FRAMES[name](spark) if name in FRAMES else REGISTRY[name].run(spark, SF_DIR)
        plan = formatted_plan(df)
        for label, pattern, want in checks:
            hit = re.search(pattern, plan) is not None
            ok = hit == want
            n_pass += ok
            n_fail += not ok
            mark = "ok  " if ok else "FAIL"
            lines.append(f"{mark}  {name}: {label}"
                         + ("" if ok else f"  (expected {'match' if want else 'absence'} of /{pattern}/)"))
    return n_pass, n_fail, lines


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    n_pass, n_fail, lines = audit(names or None)
    print("\n".join(lines))
    print(f"\n{n_pass} checks passed, {n_fail} failed")
    if "--md" in sys.argv:
        with open("PLANS.md", "w") as f:
            f.write(
                "# PLANS — physical-plan audit (generated by tools/plan_audit.py)\n\n"
                "Checked properties: filter pushdown to the parquet scan "
                "(`PushedFilters`), column pruning (`ReadSchema`), broadcast of "
                "small dimensions, map-side partial aggregation, whole-stage "
                "codegen coverage, no Python/pandas UDFs in expression-only "
                "pipelines, top-k compiling to `TakeOrderedAndProject`, band/as-of "
                "joins staying equi-join (never nested-loop/cartesian).\n\n```\n"
                + "\n".join(lines)
                + f"\n\n{n_pass} checks passed, {n_fail} failed\n```\n"
            )
        print("wrote PLANS.md")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
