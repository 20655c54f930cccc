"""Regenerate PLANS.md: formatted physical plans for the flagship queries
with the scale-relevant features called out.  The assertions live in
tests/test_plans.py; this artifact is the human-readable audit trail.

Usage: python scripts/explain_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, what to look for in the plan)
FLAGSHIPS = (
    (
        "kb_spine_full",
        "broadcast dim joins; PushedFilters on the message scan; no Window, no SortMergeJoin",
    ),
    (
        "rel_shipping_priority",
        "TPC-H Q3 shape: pushed filters, broadcast dims, TakeOrderedAndProject",
    ),
    (
        "llm_dedup_minhash",
        "explode -> partial-agg signatures -> banded equi bucket join; no Cartesian",
    ),
    (
        "llm_knn_graph",
        "capped (label, sub) equi self-join; per-vector norms computed pre-join",
    ),
    (
        "llm_kmeans_embeddings",
        "1-row collect_list centroid broadcast; 64 integer sum columns partial-agg",
    ),
    (
        "llm_sim_bruteforce",
        "TakeOrderedAndProject top-k; 1-row query-vector broadcast",
    ),
    (
        "rel_pricing_summary",
        "single hash aggregate with map-side partial agg; WholeStageCodegen",
    ),
    (
        "rel_cusum_changepoint",
        "fact collapses to |days| rows before the window stack",
    ),
    (
        "llm_bm25_search",
        "postings filtered to the query vocabulary before any shuffle; 1-row stats broadcast",
    ),
    (
        "llm_hybrid_fusion",
        "two TakeOrdered top-10 lists fused by a tiny full-outer join",
    ),
    (
        "rel_exact_quantiles_distributed",
        "range-partition + reused exchange + pid-keyed window; offsets window over |partitions| rows; no single-partition sort",
    ),
    (
        "llm_quality_ensemble",
        "distributed exact ntile(10): rangepartitioning + partition-offset arithmetic, corpus never on one task",
    ),
    (
        "rel_waiting_suppliers",
        "TPC-H Q21: exists/not-exists collapsed to ONE orderkey aggregation; dims broadcast",
    ),
    (
        "rel_order_priority_check",
        "TPC-H Q4: correlated EXISTS as LEFT SEMI, lateness predicate as join residual",
    ),
    (
        "llm_bpe_merge_learn",
        "corpus -> vocab once (checkpointed); 3 unrolled argmax picks as 1-row broadcasts",
    ),
    (
        "rel_cm_heavy_hitters",
        "sketch = (j, cell) relation <= d*w rows, broadcast to the candidate probe",
    ),
    (
        "llm_knn_triangles",
        "checkpointed edge list; vertex-keyed two-hop equi-join; 1-row census scalars",
    ),
    (
        "rel_market_share",
        "TPC-H Q8: 7-relation star, every dim broadcast, ONE orderkey fact shuffle",
    ),
    (
        "rel_forecast_revenue",
        "TPC-H Q6: zero joins, all 3 predicates in PushedFilters, no exchange",
    ),
    (
        "rel_product_profit",
        "TPC-H Q9: semi-join prune -> derived partsupp co-keyed rejoin -> orderkey bridge",
    ),
    (
        "rel_zorder_skipping",
        "Morton-clustered staging read: PushedFilters on both box dimensions over 16 zone-mapped files",
    ),
    (
        "rel_bloom_join_prune",
        "8 KB bloom words broadcast into the fact scan; 3-probe residual before the real join",
    ),
    (
        "llm_power_iteration",
        "checkpointed symmetrized gram; 3 matvecs as 64-row broadcast joins + 1-row renormalizer scalars",
    ),
    (
        "rel_table_fingerprint",
        "two scan-linear md5 passes collapsing to xor/sum partials; no shuffle beyond the final gather",
    ),
    (
        "rel_compaction_plan",
        "file inventory = one orderkey hash agg; NFD packing rides the distributed cumsum (range partition + offsets), 1-row target broadcast",
    ),
    (
        "rel_snapshot_diff",
        "ONE key-co-partitioned SortMergeJoin FullOuter; both snapshot sides are scan-linear projections, classification and checksums post-join",
    ),
    (
        "llm_quality_classifier",
        "explode -> codegen md5 per feature -> 256-row broadcast weight join -> doc-keyed partial agg; no token-stream shuffle",
    ),
    (
        "rel_dpp_join",
        "dynamicpruning# subquery in the fact scan's PartitionFilters — runtime partition elimination reusing the dim broadcast",
    ),
    (
        "rel_join_cardinality_sketch",
        "sketch build collapses each task to <= d*w rows via map-side partials; exact-F2 gate is the key shuffle the sketch avoids",
    ),
    (
        "kb_mention_graph",
        "edge list localCheckpointed ONCE (round 9): the reciprocity self-join reads two ExistingRDD scans of the user-pair-bounded table — no parquet scan, no Generate, no agg shuffle survives into the final plan",
    ),
    (
        "llm_lm_perplexity",
        "token-keyed vocab mapping (round 9): posexplode -> broadcast vocab hash join (O(1)/token, vocabulary-size-independent) -> pos-ordered re-collect; array_contains gone",
    ),
    (
        "llm_epoch_mixture",
        "mixture recipe (round 9): source-keyed agg + apportionment windows over |sources| rows; tail selection on the distributed cumsum — no per-source corpus-scale window; scalars as 1-row broadcasts",
    ),
    (
        "llm_epoch_sample",
        "sample materializer (round 10): per-doc replica counts from a source-keyed broadcast of the plan onto the distributed cumsum; ONE explode(sequence) bounded by output size; source-keyed partial agg proves token mass — no corpus-scale window, no new shuffle beyond the cumsum's range partition",
    ),
    (
        "llm_epoch_pack",
        "mix -> sample -> pack composition (round 11): the multiset running total is closed-form arithmetic on the shared distributed cumsum ((epoch-1) x n_tokens + ws_cum - n_toks), so packing adds NO new window — one Generate (explode) bounded by output size + one (source, pack_id) partial agg",
    ),
    (
        "stream_epoch_ingest_pack",
        "ingest -> gate -> mixture -> pack composition (round 12): the plan below is the BATCH tail over the gate's decisions parquet (the streaming gate itself ran foreachBatch with lp-pruned ledger probes before this plan executes) — admitted ids enter via one LeftSemi join on doc_id, then llm_epoch_pack's exact shape: cumsum, broadcast plan joins, one bounded Generate, one (source, pack_id) partial agg",
    ),
    (
        "stream_neardup_gate_ooo",
        "first-arrival-wins gate for out-of-order ingest (round 13): the plan below is the BATCH report tail over the decisions ledger (7 wave micro-batches ran the foreachBatch bucket-MIN dominance on arrival_seq before this executes) — per-batch work is the same pruned-base + bounded-tail probe as the id-ordered gate, dominance-column swap adds zero plan nodes",
    ),
    (
        "stream_neardup_gate_ttl",
        "retention-windowed gate (round 13): same report tail; per-batch probes additionally carry a parquet-pushable arrival_seq range predicate (probe input O(window) not O(corpus)) and the scheduled fold drops expired signatures — both gate state AND per-batch cost corpus-independent, 10x stress ratio 1.2x",
    ),
)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from knowledgebot_spark.registry import load
    from knowledgebot_spark.session import get_session

    spark = get_session("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = load()

    print("# PLANS — formatted physical plans for the flagship queries")
    print()
    print(
        "Regenerate with `python scripts/explain_audit.py`.  The machine-"
        "checked versions of these observations are tests/test_plans.py;"
    )
    print(
        "this file is the human-readable audit: what Catalyst actually "
        f"planned at {sf} and why that shape survives 100 TB."
    )
    for name, note in FLAGSHIPS:
        df = catalog[name].fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        print()
        print(f"## {name}")
        print()
        print(f"*Audit focus: {note}.*")
        print()
        print("```")
        print(plan.strip())
        print("```")


if __name__ == "__main__":
    main()
