"""Physical-plan audit: assert the headline queries compile to the
plans a 100 TB deployment needs.

Checks are grep-style assertions over ``explain("formatted")`` output:

- scans read only the projected columns (column pruning reached the
  parquet reader) and carry PushedFilters for selective predicates;
- aggregations partial-aggregate before the exchange (map-side
  combine);
- small dimension joins broadcast, the big fact join does not;
- top-k compiles to TakeOrderedAndProject (no global sort);
- no CartesianProduct / BroadcastNestedLoopJoin anywhere except the
  explicitly-exact brute-force similarity baseline.

Usage: python tools/explain_audit.py  [query ...]
Exits non-zero if a required plan property is missing.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("AUDIT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# (query, [(must_regex, why)], [(must_not_regex, why)])
CHECKS = [
    (
        "flagship_revenue_by_nation",
        [
            (r"PushedFilters: .*(EqualTo|IsNotNull)\(l_returnflag", "returnflag filter reaches lineitem scan"),
            (r"BroadcastHashJoin", "dimension joins broadcast"),
            (r"HashAggregate", "hash aggregation"),
        ],
        [(r"CartesianProduct", "no cross product")],
    ),
    (
        "field_filter_keep_rename",
        [(r"ReadSchema: struct<c_custkey:bigint,c_name:string", "scan prunes to kept columns")],
        [],
    ),
    (
        "top_k",
        [(r"TakeOrderedAndProject", "top-k avoids a global sort")],
        [(r"\bSort \[", "no full sort stage")],
    ),
    (
        "aggregate_q1",
        [
            (r"Functions \[\d+\]: \[partial_", "map-side partial aggregation"),
            (r"ReadSchema: struct<l_quantity:double,l_extendedprice", "scan prunes to the 6 referenced columns"),
        ],
        [],
    ),
    (
        "join_details",
        [(r"BroadcastHashJoin", "small detail side broadcasts")],
        [(r"SortMergeJoin", "no shuffle join for a broadcastable dim")],
    ),
    (
        "added_keys",
        [(r"LeftAnti", "anti join for CDC")],
        [(r"CartesianProduct", "no cross product")],
    ),
    (
        "exact_dedup",
        [(r"(?s)partial_first|HashAggregate", "dedup = hash agg, not sort")],
        [],
    ),
    (
        "tumbling_window",
        [(r"HashAggregate", "window agg is a hash agg on the window struct")],
        [],
    ),
    (
        "token_count",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "no shuffle for a per-row expression"),
         (r"(BatchEvalPython|ArrowEvalPython)", "no Python in the hot path")],
    ),
    (
        "minhash_dedup_pairs",
        [(r"(ArrowEvalPython|HashAggregate)", "arrow-batched or agg stages only")],
        [(r"CartesianProduct", "banding join is an equi join, never a cross product")],
    ),
    (
        "pareto_front_orders",
        [(r"Functions \[\d+\]: \[partial_", "per-x best-y partial-aggregates map-side"),
         (r"\bWindow\b", "running best over the per-x aggregate, grouped")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "verdict join is an equi join"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure comparisons, no Python")],
    ),
    (
        "effect_size_purchase_vs_view",
        [(r"Functions \[\d+\]: \[partial_", "moments partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "concentration_orders_by_priority",
        [(r"Functions \[\d+\]: \[partial_", "entity totals partial-aggregate map-side"),
         (r"Window", "top-k rank window is per-group")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "trimmed_mean_by_priority",
        [(r"Functions \[\d+\]: \[partial_", "value counts partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "trimmed_mean_events_value",
        [(r"Functions \[\d+\]: \[partial_", "value counts partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "bootstrap_ci_by_type",
        [(r"Functions \[\d+\]: \[partial_", "replicate sums partial-aggregate map-side"),
         (r"Window", "endpoint selection is a per-group rank window")],
        [(r"Exchange SinglePartition.*\n.*Window", "never a global window"),
         (r"(BatchEvalPython|ArrowEvalPython)", "hash multiplicities are codegen, no Python")],
    ),
    (
        "paired_t_events_purchase_click",
        [(r"Functions \[\d+\]: \[partial_", "per-user pairs + moments partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "brown_forsythe_events",
        [(r"Functions \[\d+\]: \[partial_", "medians + moments partial-aggregate map-side"),
         (r"BroadcastHashJoin", "group medians broadcast back")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        # r13 cell fold: the pinned per-(group,value) counts (one
        # corpus aggregate, materialized behind the RDD cut) feed ONE
        # fused Arrow fold task; past the cell caps the distributed
        # cum machinery returns (dual-path pinned in tests)
        "kruskal_wallis_events",
        [(r"Scan ExistingRDD", "pinned cell counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched rank fold task")],
        [(r"BatchEvalPython", "no row-at-a-time Python"),
         (r"CartesianProduct", "no unkeyed product")],
    ),
    (
        # r13 cell fold (see kruskal_wallis_events)
        "mann_whitney_events",
        [(r"Scan ExistingRDD", "pinned two-arm value counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched rank-sum fold task")],
        [(r"BatchEvalPython", "no row-at-a-time Python"),
         (r"CartesianProduct", "no unkeyed product")],
    ),
    (
        "bootstrap_ci_events_value",
        [(r"Functions \[\d+\]: \[partial_", "replicate sums partial-aggregate map-side"),
         (r"TakeOrderedAndProject", "CI endpoints select via TakeOrdered, no global sort")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "hash multiplicities are codegen, no Python")],
    ),
    (
        "classification_report_orders",
        [(r"Functions \[\d+\]: \[partial_", "pair counts partial-aggregate map-side"),
         (r"BroadcastHashJoin", "classes-sized marginal tables broadcast")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "retrieval_metrics_events",
        [(r"Functions \[\d+\]: \[partial_", "per-query aggregate partial map-side")],
        [(r"Exchange SinglePartition", "rank window is per-query, never global"),
         (r"(BatchEvalPython|ArrowEvalPython)", "discount map is literals, no Python")],
    ),
    (
        "cramers_v_events",
        [(r"Functions \[\d+\]: \[partial_", "cell counts partial-aggregate map-side"),
         (r"BroadcastHashJoin|BroadcastNestedLoopJoin", "marginals/totals broadcast (1-row/cells-sized)")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "frequent_sequences_events",
        [(r"Functions \[\d+\]: \[partial_", "gram counts partial-aggregate map-side")],
        [(r"Exchange SinglePartition.*\n.*Window|Window.*global", "leads window is per-key, never global"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "containment_pairs_docs",
        [(r"Functions \[\d+\]: \[partial_", "df/size counts partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "prefix-vs-postings join is an equi join"),
         (r"(BatchEvalPython|ArrowEvalPython)", "shingles + prefixes are pure codegen, no Python")],
    ),
    (
        "temporal_split_events",
        [(r"ReadSchema: struct<event_id", "scan prunes to referenced columns")],
        [(r"Exchange", "pure map-only assignment — no shuffle at all"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "prefix_jaccard_docs",
        [(r"Functions \[\d+\]: \[partial_", "df/size counts partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "prefix-candidate join is an equi join"),
         (r"(BatchEvalPython|ArrowEvalPython)", "shingles + prefixes are pure codegen, no Python")],
    ),
    (
        "cosine_topk_lsh",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "bucket join is an equi join")],
        [(r"BroadcastNestedLoopJoin", "LSH path must not fall back to NL join"),
         (r"CartesianProduct", "no cross product")],
    ),
    (
        "asof_join",
        [(r"(?s)Window[\s\S]*?last", "merge formulation via ordered window")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no range-join explosion")],
    ),
    # --- round-2 additions -------------------------------------------
    (
        "unpivot_lineitem",
        [(r"Expand", "unpivot compiles to the Expand row generator")],
        [(r"Exchange", "melt is map-only — no shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython)", "no Python")],
    ),
    (
        "range_join_price_tiers",
        [(r"BroadcastNestedLoopJoin", "band dim broadcasts; fact side never shuffles")],
        [(r"Exchange hashpartitioning", "no fact-side shuffle for an O(100)-band join")],
    ),
    (
        "zscore_by_segment",
        [(r"BroadcastHashJoin", "per-group stats broadcast back onto the input")],
        [(r"Window", "no unpartitioned/global window for normalization")],
    ),
    (
        "histogram_totalprice",
        [(r"Functions \[\d+\]: \[partial_", "bin counts partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "binning is pure arithmetic, no Python")],
    ),
    (
        "time_bucket_rollup",
        [(r"(?s)HashAggregate.*HashAggregate", "pyramid: coarse grain re-aggregates the fine result")],
        [(r"CartesianProduct", "no cross product")],
    ),
    (
        "scd2_merge",
        [(r"Union", "merged dimension is a union of classified row sets")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "classification is equi-join only")],
    ),
    (
        "pii_mask",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "regex redaction never shuffles"),
         (r"(BatchEvalPython|ArrowEvalPython)", "no Python")],
    ),
    (
        "repetition_ratio",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "per-doc ratio never shuffles"),
         (r"(BatchEvalPython|ArrowEvalPython)", "no Python")],
    ),
    (
        "paragraph_dedup",
        [(r"posexplode", "paragraph split via posexplode"),
         (r"xxhash64", "dedup keyed on paragraph hash, not text equality")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "winner join is an equi join")],
    ),
    (
        "heavy_hitters",
        [(r"Functions \[\d+\]: \[partial_", "counts partial-aggregate map-side")],
        [(r"Window", "no global window")],
    ),
    # --- round-3 additions -------------------------------------------
    (
        "domain_filter",
        [(r"BroadcastHashJoin.*LeftSemi|BroadcastHashJoin.*LeftAnti",
          "blocklist broadcasts; corpus-side join is semi/anti")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython)", "regex extraction is codegen, no Python")],
    ),
    # sessionize regressed in round 2 (TIMESTAMP_NTZ cast crash) and
    # the audit never looked at it; plan_of() forces full analysis, so
    # any type regression on the driver testdata now fails here first.
    (
        "sessionize",
        [(r"(?s)Window", "gap-and-island via one ordered window per user")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join at all"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "unigram_perplexity",
        [(r"BroadcastHashJoin", "token->logprob table broadcasts"),
         (r"Functions \[\d+\]: \[partial_", "per-doc scoring partial-aggregates map-side")],
        [(r"SortMergeJoin", "scoring join must not shuffle the token stream"),
         (r"(BatchEvalPython|ArrowEvalPython)", "tokenization is codegen, no Python")],
    ),
    # --- round-4 additions -------------------------------------------
    (
        "semantic_dup_pairs_planted",
        [(r"ArrowEvalPython|MapInPandas", "centroid assignment is the Arrow-batched matmul"),
         (r"xxhash64|HashAggregate|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
          "cluster candidate join is an equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin",
          "clustered path must never cross-join (n_clusters=1 is the explicit opt-in)")],
    ),
    (
        "duplicated_spans",
        [(r"xxhash64", "spans shuffle as hashes, never text"),
         (r"Functions \[\d+\]: \[partial_", "doc-frequency partial-aggregates map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "dup-set join is an equi join"),
         (r"(BatchEvalPython|ArrowEvalPython)", "span hashing is codegen, no Python")],
    ),
    (
        "tpch_q1_pricing_summary",
        [(r"Functions \[\d+\]: \[partial_", "sums partial-aggregate map-side"),
         (r"PushedFilters: .*LessThanOrEqual\(l_shipdate", "shipdate filter reaches the scan"),
         (r"ReadSchema: struct<l_quantity", "scan prunes to referenced columns")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "tpch_q3_shipping_priority",
        [(r"BroadcastHashJoin", "segment-filtered customer side broadcasts"),
         (r"PushedFilters: .*GreaterThan\(l_shipdate", "shipdate filter reaches the lineitem scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "equi joins only")],
    ),
    (
        "tpch_q18_large_orders",
        [(r"BroadcastHashJoin", "the tiny HAVING key set broadcasts"),
         (r"Functions \[\d+\]: \[partial_", "quantity sums partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "equi joins only")],
    ),
    (
        "tpch_q5_local_supplier_volume",
        [(r"BroadcastHashJoin", "region-cut supplier-nation side broadcasts"),
         (r"Functions \[\d+\]: \[partial_", "revenue sums partial-aggregate map-side"),
         (r"PushedFilters: .*(GreaterThanOrEqual|IsNotNull)\(o_orderdate", "order-date window reaches the orders scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "equi joins only"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "tpch_q6_forecast_revenue",
        [(r"PushedFilters: .*GreaterThanOrEqual\(l_shipdate", "shipdate filter reaches the scan"),
         (r"PushedFilters: .*LessThan\(l_quantity", "quantity filter reaches the scan"),
         (r"Functions \[\d+\]: \[partial_", "the single sum partial-aggregates map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python"),
         (r"SortMergeJoin|CartesianProduct", "scan-only: no join at all")],
    ),
    (
        "tpch_q8_market_share",
        [(r"BroadcastHashJoin", "part/supplier-nation/customer-region sides broadcast"),
         (r"Functions \[\d+\]: \[partial_", "volume sums partial-aggregate map-side"),
         (r"PushedFilters: .*(GreaterThanOrEqual|IsNotNull)\(o_orderdate", "order-date window reaches the orders scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "equi joins only")],
    ),
    (
        "tpch_q4_order_priority",
        [(r"LeftSemi", "the correlated EXISTS compiles to LEFT SEMI"),
         (r"PushedFilters: .*(GreaterThanOrEqual|IsNotNull)\(o_orderdate", "date window reaches the orders scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join explosion")],
    ),
    (
        "tpch_q22_global_sales_opportunity",
        [(r"LeftAnti", "NOT EXISTS compiles to LEFT ANTI against orders"),
         (r"PushedFilters: .*GreaterThanOrEqual\(o_orderdate", "the dormancy cutoff reaches the orders scan")],
        [(r"CartesianProduct", "the one-row threshold broadcast is the only nested-loop side")],
    ),
    (
        "tpch_q2_min_cost_supplier",
        [(r"BroadcastHashJoin", "supplier-nation-region and part dimensions broadcast"),
         (r"\bWindow\b", "the correlated min-cost subquery compiles to ONE window pass"),
         (r"Functions \[\d+\]: \[partial_", "the (partkey,suppkey) min partial-aggregates map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "equi joins only"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        # r13: the scoped per-part aggregate is lazily pinned (one
        # lineitem aggregation for both the values and the grand
        # total); the nation-supplier broadcast join now sits inside
        # the pin subtree, invisible in the final static dump
        "tpch_q11_important_stock",
        [(r"Scan ExistingRDD", "pinned scoped aggregate — lineitem aggregated once"),
         (r"BroadcastExchange|BroadcastNestedLoopJoin", "the 1-row grand-total threshold broadcasts")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "tpch_q20_dominant_supplier",
        [(r"LeftSemi", "the IN-subquery compiles to LEFT SEMI"),
         (r"PushedFilters: .*GreaterThanOrEqual\(l_shipdate", "the 1997 window reaches the lineitem scan"),
         (r"BroadcastHashJoin", "part and nation dimensions broadcast")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join explosion"),
         (r"(BatchEvalPython|ArrowEvalPython)", "pure codegen, no Python")],
    ),
    (
        "dsir_logratio",
        [(r"BroadcastHashJoin", "the vocabulary-sized log-ratio table broadcasts into the tokens"),
         (r"Functions \[\d+\]: \[partial_", "per-doc means partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "scoring is codegen, no Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no join explosion")],
    ),
    (
        "remove_boilerplate_lines",
        [(r"partial_count\(distinct ", "doc-count per line partial-aggregates (two-phase count-distinct)"),
         (r"LeftAnti", "boilerplate key set anti-joins back")],
        [(r"(BatchEvalPython|ArrowEvalPython)", "splitting/hashing is codegen, no Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no join explosion")],
    ),
    (
        "image_phash_planted_recall",
        [(r"MapInPandas", "decode+hash is the Arrow-batched map-only pass"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin",
          "hamming candidate join is an equi join on (band, bucket)")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin",
          "banded hamming join must never cross-join")],
    ),
    (
        "cosine_topk_pq_selfmatch",
        [(r"MapInPandas", "encode + ADC scan are Arrow-batched map-only passes"),
         (r"BroadcastHashJoin", "candidate ids and query vectors broadcast for the exact rescore")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join explosion"),
         (r"SortMergeJoin", "the corpus must never shuffle for the rescore")],
    ),
    (
        "funnel_view_click_purchase",
        [(r"PushedFilters: .*EqualTo\(event_type", "per-step filters reach the scan"),
         (r"Functions \[\d+\]: \[partial_", "stepwise mins partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "step joins are equi joins on the user key"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "retention_cohorts",
        [(r"Functions \[\d+\]: \[partial_", "first-event mins partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "cohort join is an equi join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "video_dup_planted",
        [(r"MapInPandas", "Y4M decode + fingerprint is the Arrow-batched map-only pass"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "hamming join is an equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "audio_dup_planted",
        [(r"MapInPandas", "PCM decode + fingerprint is the Arrow-batched map-only pass"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "hamming join is an equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "moving_sum_1h",
        [(r"Window", "RANGE-frame trailing window"),
         (r"rangepartitioning|hashpartitioning\(user_id", "one shuffle on the partition key")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no self-join for a sliding frame"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "interval_join_events",
        [(r"explode\(sequence\(", "intervals explode into grid cells"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "cell join is an equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin",
          "overlap join must never fall back to a theta/NL join")],
    ),
    (
        "resample_hourly_ffill",
        [(r"explode\(sequence\(", "grid generates via sequence+explode (rows ∝ output)"),
         (r"Window", "forward fill is a partitioned ordered window")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "grid join is an equi join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "zorder_cluster_roundtrip",
        [(r"rangepartitioning\(__zkey", "Z-order clusters via ONE range shuffle"),
         (r"Arguments: \[__zkey#\d+L ASC", "within-partition sort on the Morton key")],
        [(r"hashpartitioning\(__zkey", "no extra hash shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "Morton key is codegen, no Python")],
    ),
    # --- round-4 session-2 additions ---------------------------------
    (
        "html_to_text",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "no shuffle for a per-row regex chain"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "no Python in the strip chain")],
    ),
    (
        "canonicalize_url",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "no shuffle for URL normalization"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "no Python")],
    ),
    (
        "script_profile",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "no shuffle for per-row block counts"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "no Python")],
    ),
    (
        "linear_score_quality",
        [(r"Project", "map-only stage")],
        [(r"Exchange", "scoring never shuffles"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "exported-model scoring is codegen")],
    ),
    (
        "dedup_against_index_planted",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "band join is an equi join"),
         (r"LeftAnti", "admission is an anti join on match ids")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin",
          "index check must never fall back to NL join")],
    ),
    (
        "exact_dedup_against_index",
        [(r"LeftAnti", "exact admission is a hash anti join")],
        [(r"CartesianProduct", "no cross product")],
    ),
    (
        "admit_and_extend_planted",
        [(r"LeftAnti", "admission is an anti join on match ids"),
         (r"Scan ExistingRDD|LogicalRDD", "history signatures come from the eager checkpoint, not a re-sign")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin",
          "growing-index admission must never fall back to NL join")],
    ),
    # winsorize/mad collect their quantile scalars at build time via
    # _with_global_row_number (the prefix scan's rank — that
    # pass's plan shape is audited through the sample_nth/top-k
    # entries); the RETURNED plan must be a map-only clamp/filter.
    (
        "winsorize_prices",
        [(r"ReadSchema: struct<l_orderkey:bigint,l_linenumber:(int|bigint),l_extendedprice:double",
          "scan prunes to the three projected columns")],
        [(r"Exchange", "clamp is map-only — quantiles are baked-in literals"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "mad_outlier_events",
        [(r"ReadSchema: struct<event_id:bigint,value:double", "scan prunes to id+value")],
        [(r"Exchange", "flag filter is map-only — median/MAD are baked-in literals"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no data cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "psi_events_value",
        [(r"Functions \[\d+\]: \[partial_", "bin counts partial-aggregate map-side"),
         (r"BroadcastHashJoin", "spine and totals join as broadcasts")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    # ks_distance materializes its 1-row statistic as a local table,
    # so the returned plan is a local scan; the internal cumulative
    # pass is the prefix scan audited through the rank entries (one
    # ordered window when small, value buckets + carry join past
    # _SMALL_RANK_ROWS).
    (
        "ks_events_value",
        [(r"LocalTableScan|Scan ExistingRDD", "statistic is a 1-row materialized result")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "fuzzy_join_customer_names",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "length-band join is an equi join"),
         (r"levenshtein", "distance filter runs in-JVM post-join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin",
          "fuzzy join must never fall back to all-pairs NL join")],
    ),
    (
        "stream_psi_window",
        [(r"BroadcastHashJoin", "reference counts join as a broadcast"),
         (r"Window", "per-window totals over histogram-sized input")],
        [(r"CartesianProduct", "spine fan-out is an explicit bins-row broadcast, not a data cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "finisher is pure codegen")],
    ),
    # auc_score materializes its 1-row statistic (like ks_distance);
    # the rank-offset pass is the audited two-phase cumsum.
    (
        "auc_events_value",
        [(r"LocalTableScan|Scan ExistingRDD", "statistic is a 1-row materialized result")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "calibration_events",
        [(r"Functions \[\d+\]: \[partial_", "bin aggregates partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "attribution_linear",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "per-user join is an equi join"),
         (r"Window", "credit split is an unordered per-conversion window count")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "attribution_time_decay",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "per-user join is an equi join"),
         (r"POWER|pow", "step-decay credit is a codegen'd power expression")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta join"),
         (r"Window", "per-row decay needs no window at all"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "winsorize_by_priority",
        [(r"Window", "per-group rank + count windows"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "bounds join back on the group key")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    # quantile_normalize materializes its distinct-value ECDF map via
    # eager checkpoint (the cumsum ran through the audited prefix
    # scan); the returned plan is the checkpointed map equi-joined back.
    (
        "quantile_normalize_orders",
        [(r"Scan ExistingRDD|LogicalRDD", "ECDF map is the materialized two-phase cumsum"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "quantile map joins back as an equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "surrogate_key_orders",
        [(r"Project", "map-only keying")],
        [(r"Exchange", "no shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "pseudonymize_customer",
        [(r"Project", "map-only tokenization")],
        [(r"Exchange", "no shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "rfm_segments_events",
        [(r"Functions \[\d+\]: \[partial_", "per-entity aggregate partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "lorenz_orders_totalprice",
        [(r"Functions \[\d+\]: \[partial_", "bucket sums partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "km_risk_table_events",
        [(r"Functions \[\d+\]: \[partial_", "per-duration counts partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "join_cardinality_lineitem_partkey",
        [(r"Functions \[\d+\]: \[partial_", "per-side counts partial map-side"),
         (r"TakeOrderedAndProject", "top-k never global-sorts")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "ab_test_events_purchase",
        [(r"Functions \[\d+\]: \[partial_", "keyed counts partial map-side"),
         (r"BroadcastExchange", "1-row control arm broadcast")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "cuped_events",
        [(r"Functions \[\d+\]: \[partial_", "moment sums partial map-side"),
         (r"BroadcastExchange", "1-row pooled totals broadcast")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "group_quantiles_events",
        [(r"Functions \[\d+\]: \[partial_", "per-(group,value) counts partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct", "no cross product")],
    ),
    (
        # r13: small graphs solve in one task (adaptive dispatch, same
        # pattern as connected_components) and return a checkpointed
        # frame; the distributed wedge-join path (partial map-side
        # pair counts + broadcast degree tables) is dual-path-pinned
        # in test_affinity_graph and takes over past the edge cap
        "link_scores_copurchase",
        [(r"Scan ExistingRDD|LogicalRDD",
          "scores materialized by the adaptive single-task solve")],
        [(r"CartesianProduct", "wedge join is an equi-join, no cross product")],
    ),
    (
        "top_terms_docs",
        [(r"Functions \[\d+\]: \[partial_", "term counts partial map-side")],
        [(r"CartesianProduct", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "stratified_sample_n_orders",
        [(r"RunningWindowFunction|Window", "one in-partition rank, no self-join")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct", "no cross product")],
    ),
    (
        "embedding_centroids_by_label",
        [(r"Functions \[\d+\]: \[partial_", "cell sums partial map-side"),
         (r"Generate", "posexplode is map-only, no shuffle of raw vectors")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct", "no cross product")],
    ),
    (
        "gini_by_priority",
        [(r"Functions \[\d+\]: \[partial_", "value counts partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct", "no cross product")],
    ),
    (
        "mix_shift_events_value",
        [(r"Functions \[\d+\]: \[partial_", "period sums partial map-side"),
         (r"BroadcastExchange", "1-row totals broadcast")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "golden_record_customers",
        [(r"Functions \[\d+\]: \[partial_", "elections partial map-side")],
        [(r"CartesianProduct", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "rate_confidence_events",
        [(r"Functions \[\d+\]: \[partial_", "keyed counts partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "negative_samples_orders",
        [(r"Functions \[\d+\]: \[partial_", "draw dedup partial map-side")],
        [(r"CartesianProduct", "ring draws map to candidates by equi-join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # islands materialize behind a localCheckpoint (the lineage
        # cut between the two ranking passes), so only the second
        # ranking + gap join is visible to explain
        "id_gaps_orders",
        [(r"Window", "two-phase rank window over islands")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct", "island pairing is an equi-join")],
    ),
    (
        "decomposition_strength_events",
        [(r"Functions \[\d+\]: \[partial_", "strength moment sums partial map-side"),
         (r"RunningWindowFunction|Window", "prefix frames, one window node")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "scd2_snapshot_orders",
        [(r"Window", "one version window")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct", "no cross product")],
    ),
    (
        "growth_accounting_weekly",
        [(r"Functions \[\d+\]: \[partial_", "distinct + counts partial map-side")],
        [(r"CartesianProduct", "shifted-bucket joins are equi-joins"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "xcf_click_purchase",
        [(r"Functions \[\d+\]: \[partial_", "bucket means partial map-side")],
        [(r"CartesianProduct", "lag align is an equi-join, no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "robust_scale_orders",
        [(r"Functions \[\d+\]: \[partial_", "per-(group,value) counts partial map-side"),
         (r"BroadcastExchange", "groups-sized bounds broadcast back")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "lookup_with_default_customer",
        [(r"BroadcastExchange", "small dim broadcasts")],
        [(r"CartesianProduct", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "acf_events_value",
        [(r"Functions \[\d+\]: \[partial_", "bucket means partial map-side")],
        [(r"CartesianProduct", "lag align is an equi-join, no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "cumulative_distinct_events",
        [(r"Functions \[\d+\]: \[partial_", "first-seen min partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "ewma_events_value",
        [(r"FlatMapGroupsInPandas|MapInPandas", "honest Arrow seam for the recurrence"),
         (r"ReadSchema: struct<event_id:bigint,ts:timestamp", "scan prunes to the 4 used columns")],
        [],
    ),
    (
        "expectations_customer",
        [(r"Functions \[\d+\]: \[partial_", "conditional counts partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "holt_forecast_events",
        [(r"FlatMapGroupsInPandas|MapInPandas", "honest Arrow seam for coupled recurrences")],
        [],
    ),
    (
        "linear_trend_user_daily",
        [(r"Functions \[\d+\]: \[partial_", "sufficient statistics partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window$", "no window pass at all")],
    ),
    (
        "bounded_stock_events",
        [(r"FlatMapGroupsInPandas|MapInPandas", "honest Arrow seam for the clamp recurrence")],
        [],
    ),
    (
        "keep_latest_orders",
        [(r"hashpartitioning\(o_custkey", "one key shuffle"),
         (r"\[row_number", "in-partition rank, no max+self-join")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "rolling_corr_supplier",
        [(r"hashpartitioning\(l_suppkey", "one key shuffle"),
         (r"RunningWindowFunction|Window", "one shared-frame window pass")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Join", "no self-join")],
    ),
    (
        "histogram2d_events",
        [(r"Functions \[\d+\]: \[partial_", "bin counts partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "weighted_median_lineitem",
        [(r"hashpartitioning\(l_returnflag", "one key shuffle"),
         (r"Functions \[\d+\]: \[partial_", "final min per key partial map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "group_mode_events",
        [(r"Functions \[\d+\]: \[partial_", "pair counts partial map-side"),
         (r"\[row_number", "winner via rank over the count table")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "calendar_features_events",
        [(r"Project", "map-only feature extraction")],
        [(r"Exchange", "no shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "abc_parts_revenue",
        [(r"LogicalRDD|Scan ExistingRDD", "materialized item table (eager checkpoint of the cumsum)")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "freshness_events_by_type",
        [(r"Functions \[\d+\]: \[partial_", "per-feed aggregate partial map-side"),
         (r"ReadSchema: struct<ts:timestamp.*,event_type:string|ReadSchema: struct<event_type:string", "scan prunes to ts+type")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "grid_distance_pairs_customer",
        [(r"keys \[\d+\]: \[__cx", "cell-key equi-join, not a theta join")],
        [(r"CartesianProduct", "no cartesian"),
         (r"BroadcastNestedLoopJoin", "no NL join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "reading_level_docs",
        [(r"ReadSchema: struct<doc_id:bigint,text:string", "scan prunes to id+text")],
        [(r"Exchange", "map-only - no shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "gains_table_events",
        [(r"Functions \[\d+\]: \[partial_", "bucket counts partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "one_hot_events_type",
        [(r"ReadSchema: struct<event_id:bigint,event_type:string", "scan prunes to id+type")],
        [(r"Exchange", "map-only - no shuffle"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "top_values_orders_priority",
        [(r"Functions \[\d+\]: \[partial_count", "value counts partial-aggregate map-side")],
        [(r"CartesianProduct", "total is a 1-row broadcast"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "cdc_column_diff_orders",
        [
            (r"BroadcastHashJoin|SortMergeJoin", "one equi-join on the key"),
            (r"\bGenerate\b", "per-column triples explode map-only"),
        ],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "pit_join_orders_segment",
        [(r"BroadcastHashJoin|SortMergeJoin", "equi-join on the key (range preds as filters)")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta explosion"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "gap_report_events",
        [(r"\bWindow\b", "lag over one key-partitioned window")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "asof_nearest_events",
        [
            (r"\bWindow\b", "both candidates from ONE window pass"),
        ],
        [(r"SortMergeJoin|CartesianProduct|BroadcastNestedLoopJoin",
          "merge formulation - no join at all"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "coalesce_intervals_events",
        [
            (r"\bWindow\b", "gaps-and-islands window"),
            (r"Functions \[\d+\]: \[partial_", "island agg partial-aggregates map-side"),
        ],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "balance_classes_docs",
        [(r"Filter", "map-only hash predicate")],
        [(r"Exchange hashpartitioning.*doc_id", "no data shuffle for the filter"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "twap_events_user",
        [
            (r"\bWindow\b", "lead over one key-partitioned window"),
            (r"Functions \[\d+\]: \[partial_", "interval sums partial-aggregate map-side"),
        ],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "conversion_latency_events",
        [(r"Functions \[\d+\]: \[partial_min", "first-event MINs partial-aggregate map-side")],
        [(r"Window", "no window - two keyed MINs + one equi-join"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "target_encode_events",
        [
            (r"Functions \[\d+\]: \[partial_", "category sums partial-aggregate map-side"),
            (r"BroadcastExchange|BroadcastNestedLoopJoin", "1-row prior broadcasts"),
        ],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window")],
    ),
    (
        "chi_square_events",
        [(r"Functions \[\d+\]: \[partial_", "cell counts partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"SortMergeJoin", "marginals are cell-sized broadcasts, not shuffle joins")],
    ),
    (
        "collocations_docs",
        [
            (r"\bGenerate\b", "bigram transform+explode is a Generate node"),
            (r"Functions \[\d+\]: \[partial_count", "pair counts partial-aggregate map-side"),
            (r"BroadcastHashJoin", "unigram dictionary broadcasts"),
        ],
        [(r"CartesianProduct", "no data cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # hits_scores returns a localCheckpoint'd frame (one final
        # checkpoint; small graphs take the one-task fold) — pytest
        # pins the iteration arithmetic
        "hits_supplier_part",
        [],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "benford_orders_totalprice",
        [
            (r"ReadSchema: struct<o_totalprice", "scan prunes to the audited column"),
            (r"Functions \[\d+\]: \[partial_count", "digit counts partial-aggregate map-side"),
        ],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "decompose_events_value",
        [
            (r"\bWindow\b", "trend is ONE window pass (range frame)"),
            (r"Functions \[\d+\]: \[partial_", "seasonal means partial-aggregate map-side"),
            (r"BroadcastExchange|BroadcastHashJoin", "bucket-sized seasonal table broadcasts back"),
        ],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "woe_iv_events_purchase",
        [
            (r"Functions \[\d+\]: \[partial_", "bin counts partial-aggregate map-side"),
            (r"BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoopJoin", "1-row totals broadcast"),
        ],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window")],
    ),
    (
        "inverted_index_docs",
        [
            (r"ReadSchema: struct<doc_id:bigint,text:string", "scan prunes to id+text"),
            (r"\bGenerate\b", "token explode is a Generate node, not a Python UDF"),
            (r"Functions \[\d+\]: \[partial_count", "tf counts partial-aggregate map-side"),
        ],
        [(r"CartesianProduct", "no data cross product (totals are 1-row broadcast)"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "frequent_pairs_lineitem",
        [
            # r13: the distinct membership table is lazily pinned
            # (localCheckpoint), so the parquet scan lives inside the
            # opaque RDD subtree; the pinned table's output schema
            # proves the same pruning — only (__b, __i) ever flows
            # into the pair join
            (r"Output \[2\]: \[__b#\d+L?, __i#\d+L?\]", "pinned membership table carries basket+item only"),
            (r"BroadcastHashJoin", "Apriori frequent-item prune broadcasts"),
            (r"Functions \[\d+\]: \[partial_count", "pair counts partial-aggregate map-side"),
        ],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "association_rules_lineitem",
        [(r"BroadcastHashJoin", "item-count dictionary broadcasts")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "graph_degrees_supplier_part",
        [
            (r"ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint", "scan prunes to the edge endpoints"),
            (r"Functions \[\d+\]: \[partial_count", "degree counts partial-aggregate map-side"),
        ],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # the returned frame is localCheckpoint'd (one final
        # checkpoint; small graphs take the one-task fold), so the
        # per-round partial_sum shape is not visible here — pytest pins
        # the iteration arithmetic; this entry guards the final plan only
        "pagerank_supplier_part",
        [],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "bm25_hits_docs",
        [(r"ReadSchema: .*doc_id.*text|ReadSchema: .*text", "only id+text read from the scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "query terms ride as literals, no join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window")],
    ),
    # kmeans: the Arrow-batched assignment UDF is the designed seam
    # (argmin matmul); the update is a keyed exact-decimal agg
    (
        "kmeans_planted_blobs",
        [(r"MapInPandas", "assignment is the Arrow-batched argmin matmul"),
         (r"PushedFilters: .*LessThan\(vec_id|PushedFilters: \[.*vec_id", "id slice reaches the scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        "top_paths_events",
        [(r"Window", "lead chain under the per-key total order"),
         (r"TakeOrderedAndProject", "top-k is a heap merge, not a global sort"),
         (r"HashAggregate|ObjectHashAggregate", "path counts partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    # changepoint: the only window runs over the BUCKET table
    # (time-range-sized) — single-partition by design, documented
    (
        "changepoint_events_value",
        [(r"HashAggregate|ObjectHashAggregate", "hourly buckets partial-aggregate map-side"),
         (r"TakeOrderedAndProject", "argmax is a 1-row TakeOrdered")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "transition_matrix_events",
        [(r"Window", "per-key lag under the total order"),
         (r"HashAggregate|ObjectHashAggregate", "pair counts partial-aggregate map-side"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "row-stochastic share joins the states^2 totals")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "seasonal_anomalies_events",
        [(r"BroadcastHashJoin", "<=168-bucket baseline broadcasts back"),
         (r"HashAggregate|ObjectHashAggregate", "bucket moments partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"Window", "baseline is an agg, not a window"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "mixture_plan_docs",
        [(r"HashAggregate|ObjectHashAggregate", "token sums partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "plan is sums + a one-row fold")],
    ),
    # rolling feature matrix: every horizon is a frame over ONE
    # Window pass — a second Window node would mean a redundant sort
    (
        "rolling_features_events",
        [(r"Window", "RANGE frames over the per-user order"),
         (r"hashpartitioning\(user_id", "one hash shuffle on the partition key")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no self-join for trailing windows"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "cohens_kappa_orders",
        [(r"HashAggregate|ObjectHashAggregate", "contingency + marginal counts partial-aggregate")],
        [(r"Window", "no window — chance term is a marginal join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    # privacy governance: keyed counts folded to one-row reports; the
    # suppression path is a semi equi-join of the group-size table
    (
        "k_anonymity_customer",
        [(r"HashAggregate|ObjectHashAggregate", "quasi-group counts partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"Window", "no window"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "suppress_small_groups_customer",
        [(r"LeftSemi", "suppression is a semi-join against the big-groups table"),
         (r"HashAggregate|ObjectHashAggregate", "group sizes partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"Window", "rows never sort or window"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    # key/referential audits: keyed counts + anti-joins; the one-row
    # report folds join as broadcast loops over single rows (cheap by
    # construction), so no cross-product forbid applies
    (
        "key_profile_orders",
        [(r"HashAggregate|ObjectHashAggregate", "per-column keyed counts partial-aggregate"),
         (r"Union", "len(cols)-row report is a union of one-row folds")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window needed for key profiling")],
    ),
    (
        "integrity_orders_customer",
        [(r"BroadcastHashJoin.*LeftAnti|SortMergeJoin.*LeftAnti|ShuffledHashJoin.*LeftAnti", "orphan/unreferenced checks are anti equi-joins"),
         (r"HashAggregate|ObjectHashAggregate", "FK counts partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window in the report")],
    ),
    # resolve_entities: the closure label table is materialized by
    # connected_components' localCheckpoints; the audited plan is the
    # cluster join + per-entity election joins
    (
        "resolve_entities_customers",
        [(r"Scan ExistingRDD|LogicalRDD", "closure labels are the checkpointed CC fixpoint"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "cluster + election joins are equi joins"),
         (r"HashAggregate|ObjectHashAggregate", "elections partial-aggregate map-side")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "attribution_first_touch",
        [(r"PushedFilters: .*(EqualTo|Not)\(event_type", "conversion/touch filters reach the scan"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "per-user join is an equi join"),
         (r"Window", "credited touch picked by a per-conversion window")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "new_vs_returning_daily",
        [(r"Functions \[\d+\]: \[partial_", "bucket rollup partial map-side"),
         (r"hashpartitioning\(__uid", "first-seen window shuffles on user only")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "churn_weekly_users",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "next-period lookup is a (user,bucket) equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "segment_overlap_event_types",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "co-membership via id equi self-join")],
        [(r"CartesianProduct", "spine is vocab-sized, never a corpus cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "welch_t_purchase_vs_view",
        [(r"Functions \[\d+\]: \[partial_", "scaled moments partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window anywhere")],
    ),
    (
        "anova_value_by_type",
        [(r"Functions \[\d+\]: \[partial_", "per-group moments partial-aggregate map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no window anywhere")],
    ),
    (
        "mi_lang_source",
        [(r"Functions \[\d+\]: \[partial_", "cell/margin counts partial map-side"),
         (r"BroadcastHashJoin", "margins broadcast back to the cell table")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "minmax_scale_events",
        [(r"Functions \[\d+\]: \[partial_min|Functions \[\d+\]: \[partial_", "bounds partial-aggregate map-side"),
         (r"BroadcastHashJoin", "groups-sized bounds table broadcasts back")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "never an unbounded min/max window")],
    ),
    (
        "theil_sen_daily_revenue",
        [(r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "pair generation is a per-group equi self-join"),
         (r"\[row_number", "median is type-1 rank selection")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "wow_revenue_orders",
        [(r"Functions \[\d+\]: \[partial_", "weekly rollup partial-aggregates map-side"),
         (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", "prior week aligned by a buckets-sized equi join")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"Window", "no lag window — gap-safe join alignment")],
    ),
    # shipments_in_transit: the curve is materialized by an eager
    # localCheckpoint of the cumsum, so the audited plan is the
    # checkpointed RDD scan — assert the materialization happened
    (
        "shipments_in_transit",
        [(r"Scan ExistingRDD|LogicalRDD", "cumsum curve materialized (eager checkpoint)")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "dwell_events_by_type",
        [(r"hashpartitioning\(__k", "one key shuffle for the lead window"),
         (r"Functions \[\d+\]: \[partial_", "state rollup partial-aggregates map-side")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "debounce_events_user",
        [(r"FlatMapGroupsInPandas|MapInPandas", "honest Arrow seam for the last-survivor recurrence"),
         (r"hashpartitioning\(__k", "one key shuffle")],
        [(r"BatchEvalPython", "never row-at-a-time Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "cohort_ltv_orders",
        [(r"Functions \[\d+\]: \[partial_", "per-user rollup partial-aggregates map-side"),
         (r"BroadcastHashJoin", "cohort sizes broadcast to the cells"),
         (r"\bGenerate\b", "age spine explodes from per-cohort spans")],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no cross product")],
    ),
    (
        "fifo_match_events",
        [(r"hashpartitioning\(__k", "per-side cumulative windows shuffle on the key"),
         (r"BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin", "match join is a key equi-join (overlap preds as filters)"),
         (r"PushedFilters: .*EqualTo\(event_type", "side split reaches the scan")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no theta join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "rolling_wau_events",
        [(r"Scan ExistingRDD|LogicalRDD", "sweep curve materialized via the two-phase cumsum"),],
        [(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no day-by-user fanout join")],
    ),
    (
        "haversine_pairs_customer",
        [(r"keys \[\d+\]: \[__cx", "candidate set via wrapped-grid cell equi-join")],
        [(r"CartesianProduct", "no cartesian"),
         (r"BroadcastNestedLoopJoin", "no NL join"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # r13 cell fold (see kruskal_wallis_events): both rank systems
        # and the five moments fold in ONE task over the pinned
        # (x, y, count) cells; past the caps the distributed cells
        # machinery returns (dual-path pinned in tests)
        "spearman_lineitem_qty_price",
        [(r"Scan ExistingRDD", "pinned (x,y) cell counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched rank/moment fold task")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no products"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        "fdr_bh_customers",
        [(r"BroadcastExchange", "step frontier is a 1-row broadcast")],
        [(r"CartesianProduct", "frontier attach is a broadcast, not a cartesian"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # the calibration quantile was collected at build time (one
        # scalar); the returned plan must be the SCORED side only —
        # a scan + project with the band literals, nothing else
        "conformal_events_value",
        [(r"PushedFilters: .*EqualTo\(event_type,click\)", "scored-side filter reaches the scan")],
        [(r"Exchange", "scored side is map-only — no shuffle at all"),
         (r"Join", "no join: q is a collected literal"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "divergence_purchase_vs_click",
        [(r"Functions \[\d+\]: \[partial_", "bin counts partial-aggregate map-side"),
         (r"BroadcastExchange", "bins-row spine + totals broadcast")],
        [(r"SortMergeJoin", "no data-sized join — everything is bins-sized"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # r13: no pair join at all — S and every tie term come from
        # ONE fused inversion-count pass per group (hash exchange on
        # the group key + MapInPandas over key-contiguous rows)
        "kendall_tau_daily_revenue",
        [(r"Functions \[\d+\]: \[partial_", "daily rollup partial-aggregates map-side"),
         (r"hashpartitioning\(grp", "groups shuffle once on the group key"),
         (r"MapInPandas", "one fused Arrow-batched inversion-count pass")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no pair explosion"),
         (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "no pair self-join at all"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        # the group-pair table is k rows; its inequality self-join MAY
        # be a broadcast NL over k rows (correct), but nothing
        # data-sized may cartesian and the rank machinery stays JVM
        "dunn_events_value",
        [(r"Functions \[\d+\]: \[partial_", "per-(group,value) counts partial-aggregate map-side"),
         (r"BroadcastExchange", "k-row pair table + 1-row globals broadcast")],
        [(r"CartesianProduct", "no unkeyed data-sized product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "cochran_q_events",
        [(r"Functions \[\d+\]: \[partial_", "subject/treatment totals partial-aggregate map-side")],
        [(r"SortMergeJoin", "only 1-row aggregates meet — nothing data-sized joins"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "srm_orders_priority",
        [(r"BroadcastHashJoin|BroadcastExchange", "k-row weights table broadcasts onto the counts")],
        [(r"SortMergeJoin", "no shuffle join for a k-row weights table"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "vocab_richness_docs",
        [(r"Functions \[\d+\]: \[partial_", "token counts partial-aggregate map-side")],
        [(r"Join", "no join at all — explode, count, 1-row aggregate"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # prefix sums + running minima must share ONE key shuffle and
        # ONE in-partition sort (chained Window nodes, no re-sort)
        "cusum_daily_revenue",
        [(r"Functions \[\d+\]: \[partial_", "daily rollup partial-aggregates map-side"),
         (r"Window", "chart is window aggregates")],
        [(r"Join", "no join at all — rollup then windows"),
         (r"CartesianProduct|BroadcastNestedLoopJoin", "no product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # r13 cell fold (see kruskal_wallis_events)
        "mood_median_events",
        [(r"Scan ExistingRDD", "pinned cell counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched median/classification fold task")],
        [(r"SortMergeJoin", "nothing data-sized joins"),
         (r"CartesianProduct", "no unkeyed data-sized product"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        # r13 cell fold: 2J via the weighted-inversion identity over
        # the pinned cells in ONE task (see kruskal_wallis_events);
        # past the caps the zero-filled grid machinery returns
        "jonckheere_orders_priority",
        [(r"Scan ExistingRDD", "pinned cell counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched weighted-inversion fold task")],
        [(r"CartesianProduct", "no unkeyed data-sized product"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        "krippendorff_events",
        [(r"Functions \[\d+\]: \[partial_", "vote counts partial-aggregate map-side"),
         (r"BroadcastExchange", "1-row folds broadcast")],
        [(r"CartesianProduct", "no unkeyed data-sized product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "distinctive_terms_src1",
        [(r"TakeOrderedAndProject", "top-k is TakeOrdered — no full sort"),
         (r"Functions \[\d+\]: \[partial_", "term counts partial-aggregate map-side")],
        [(r"CartesianProduct", "token totals broadcast, nothing products"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # 2-arm broadcast onto the pooled duration grid; nothing may
        # cartesian and no Python touches the survival machinery
        "log_rank_events_parity",
        [(r"Functions \[\d+\]: \[partial_", "per-(arm,duration) counts partial-aggregate map-side"),
         (r"BroadcastExchange", "2-row arms table + 1-row folds broadcast")],
        [(r"CartesianProduct", "no unkeyed data-sized product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "wilcoxon_events_purchase_click",
        [(r"Functions \[\d+\]: \[partial_", "per-|d|-value counts partial-aggregate map-side")],
        [(r"CartesianProduct", "rank machinery is value-keyed, nothing products"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # everything after the bucket fold is buckets-sized; the rank
        # join keys on the bucket mean
        "pettitt_events_value",
        [(r"Functions \[\d+\]: \[partial_", "bucket sums partial-aggregate map-side"),
         (r"TakeOrderedAndProject", "argmax is TakeOrdered — no full sort")],
        [(r"CartesianProduct", "no product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "mantel_haenszel_events",
        [(r"Functions \[\d+\]: \[partial_", "per-stratum 2x2 margins partial-aggregate map-side")],
        [(r"Join", "no join at all — one keyed aggregate, one fold"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "runs_test_events_value",
        [(r"Functions \[\d+\]: \[partial_", "bucket sums partial-aggregate map-side"),
         (r"BroadcastExchange", "1-row median broadcast")],
        [(r"SortMergeJoin", "nothing data-sized joins"),
         (r"CartesianProduct", "no product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "durbin_watson_events_value",
        [(r"Functions \[\d+\]: \[partial_", "bucket sums partial-aggregate map-side")],
        [(r"Join", "no join at all — bucket fold then windows"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # r13 cell fold (see kruskal_wallis_events): the dense k×V
        # grid folds in ONE task under the cell/grid caps
        "anderson_darling_events",
        [(r"Scan ExistingRDD", "pinned cell counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched midrank fold task")],
        [(r"CartesianProduct", "no unkeyed data-sized product"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        # ONE stacked pass: covariates explode inline (Generate/Expand
        # or a projected stack), never one scan per covariate
        "smd_balance_orders",
        [(r"Functions \[\d+\]: \[partial_", "per-(covariate,arm) moments partial-aggregate map-side")],
        [(r"CartesianProduct", "the arm join keys on the covariate"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "cliffs_delta_events",
        [(r"Functions \[\d+\]: \[partial_", "per-value counts partial-aggregate map-side")],
        [(r"CartesianProduct", "no pair enumeration — the rank identity folds it"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        # r13 cell fold (see kruskal_wallis_events)
        "ansari_bradley_events",
        [(r"Scan ExistingRDD", "pinned two-arm value counts — corpus aggregated once"),
         (r"MapInPandas", "one fused Arrow-batched block-score fold task")],
        [(r"CartesianProduct", "closed-form block sums — no per-rank explode"),
         (r"BatchEvalPython", "no row-at-a-time Python")],
    ),
    (
        "brunner_munzel_events",
        [(r"Functions \[\d+\]: \[partial_", "per-value counts partial-aggregate map-side")],
        [(r"CartesianProduct", "rank systems join on the value key"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
    (
        "page_trend_events_spend",
        [(r"Functions \[\d+\]: \[partial_", "per-(block,treatment) cells partial-aggregate map-side")],
        [(r"CartesianProduct", "within-block windows, treatments-sized folds"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "pure codegen, no Python")],
    ),
]


# temp inputs a builder leaves for its lazy plan, closed by main()
_CLEANUP = contextlib.ExitStack()


def _build_warc_splittable(spark):
    """Live read_warc_splittable plan over a synthetic 2-record plain
    archive with splits smaller than one record — the plan must be a
    fabricated-splits scan feeding one Arrow-batched parse stage (the
    registered warc_pipeline_splittable query materializes its result
    before returning, so its reader plan is audited here instead)."""
    from bubbles_spark import warc as bw

    # the plan is lazy: main() removes the archive after the check ran
    tmp = _CLEANUP.enter_context(tempfile.TemporaryDirectory(prefix="audit_warc_"))
    body = b"HTTP/1.1 200 OK\r\n\r\nhello"
    rec = (
        "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: urn:a:1\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body + b"\r\n\r\n"
    with open(os.path.join(tmp, "a.warc"), "wb") as fh:
        fh.write(rec * 2)
    return bw.read_warc_splittable(spark, tmp, split_bytes=64)

# Streaming queries return their drained batch result, so auditing
# them through queries() would explain the memory-sink table.  Build
# the live streaming plan directly instead (analysis also re-checks
# the watermark/timestamp-type contract that broke in round 2).
def _build_stream_asof(spark):
    from pyspark.sql import functions as F

    from bubbles_spark.streaming import events as sevents

    stream = sevents.read_testdata_event_stream(spark, SF_DIR)
    lefts = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return sevents.asof_join_stream(lefts, rights, on="ts", by="user_id")


STREAM_CHECKS = [
    (
        "stream_tumbling_window(plan)",
        lambda spark: __import__("bubbles_spark.streaming.events", fromlist=["x"]).windowed_agg_stream(
            __import__("bubbles_spark.streaming.events", fromlist=["x"]).read_testdata_event_stream(spark, SF_DIR)
        ),
        [(r"EventTimeWatermark", "watermark present (bounded state)"),
         (r"HashAggregate|StateStore", "windowed agg plan")],
        [(r"CartesianProduct", "no cross product")],
    ),
    (
        "stream_quantile_histogram(plan)",
        lambda spark: __import__("bubbles_spark.streaming.events", fromlist=["x"]).histogram_stream(
            __import__("bubbles_spark.streaming.events", fromlist=["x"]).read_testdata_event_stream(spark, SF_DIR),
            bins=500, bounds=(0.0, 500.0),
        ),
        [(r"EventTimeWatermark", "watermark present (per-window bin state is expired)"),
         (r"HashAggregate|StateStore", "bin counts aggregate in state")],
        [(r"CartesianProduct", "no cross product"),
         (r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", "binning is codegen, no Python")],
    ),
    (
        "stream_funnel(plan)",
        lambda spark: __import__("bubbles_spark.streaming.events", fromlist=["x"]).funnel_stream(
            __import__("bubbles_spark.streaming.events", fromlist=["x"]).read_testdata_event_stream(spark, SF_DIR),
            ["view", "click", "purchase"],
        ),
        [(r"EventTimeWatermark", "watermark present (buffer bounded, completions final)"),
         (r"FlatMapGroupsInPandasWithState", "stateful step machine per user"),
         (r"Condition : event_type#\d+ IN", "step filter applies before the shuffle (streaming FileSource shows no PushedFilters block)")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join at all")],
    ),
    (
        "warc_splittable_reader(plan)",
        _build_warc_splittable,
        [(r"MapInPandas", "record parse is one Arrow-batched stage"),
         (r"RoundRobinPartitioning", "fabricated splits repartition across tasks")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join at all"),
         (r"Exchange hashpartitioning", "no data shuffle — split rows only")],
    ),
    (
        "stream_asof_join(plan)",
        _build_stream_asof,
        [(r"EventTimeWatermark", "watermark present (state bounded by horizon)"),
         (r"FlatMapGroupsInPandasWithState", "stateful asof via applyInPandasWithState"),
         (r"Union", "both sides union into ONE tagged stream (one shuffle on the key)")],
        [(r"CartesianProduct|BroadcastNestedLoopJoin", "no join explosion")],
    ),
]


def main() -> int:
    import __spark_entry__ as entrymod
    from bench import quiet_spark

    spark = quiet_spark("plan_audit")
    qs = entrymod.queries()
    only = set(sys.argv[1:])
    failures = 0
    targets = [(n, lambda s, n=n: qs[n](s, SF_DIR), m, mn) for n, m, mn in CHECKS]
    targets += [(n, b, m, mn) for n, b, m, mn in STREAM_CHECKS]
    for name, build, must, must_not in targets:
        if only and name not in only:
            continue
        try:
            with _CLEANUP:
                plan = plan_of(build(spark))
        except Exception as exc:  # analysis failure IS an audit failure
            print(f"FAIL {name}: plan does not analyze: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        for pat, why in must:
            if not re.search(pat, plan):
                print(f"FAIL {name}: missing [{why}] (/{pat}/)")
                failures += 1
            else:
                print(f"ok   {name}: {why}")
        for pat, why in must_not:
            if re.search(pat, plan):
                print(f"FAIL {name}: forbidden [{why}] (/{pat}/)")
                failures += 1
            else:
                print(f"ok   {name}: {why}")
    print(f"\n{'AUDIT FAILED' if failures else 'AUDIT CLEAN'} ({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
