"""Physical-plan assertions (the 100 TB posture, VERDICT.md standing
requirements): broadcast dims, no all-pairs joins in dedup/ANN, top-k via
TakeOrderedAndProject, parquet predicate pushdown, no row-at-a-time Python
UDFs in hot paths."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_spine_uses_broadcast_joins(spark, sf_dir):
    from knowledgebot_spark.queries_pipeline import kb_spine_full

    plan = _plan(kb_spine_full(spark, sf_dir))
    # users (author), channels, members agg: all broadcast, each counted
    # once by its node header.  The spine is narrow: block ordinals and
    # mention names are computed per message, so no window and no
    # message-keyed sort-merge join runs.
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin$", plan, re.M)) == 3
    assert re.search(r"\bWindow\b", plan) is None
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_no_allpairs(spark, sf_dir):
    from knowledgebot_spark.registry import load

    qd = load()["llm_dedup_minhash"]
    plan = _plan(qd.fn(spark, sf_dir))
    # the candidate join must be an equi-join on (band, bucket), never a
    # cartesian/nested-loop all-pairs scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_blocked_join_no_allpairs(spark, sf_dir):
    from knowledgebot_spark.registry import load

    qd = load()["llm_dedup_simhash"]
    plan = _plan(qd.fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    from knowledgebot_spark.registry import load

    qd = load()["llm_sim_bruteforce"]
    plan = _plan(qd.fn(spark, sf_dir))
    # orderBy(desc).limit(k) must plan as TakeOrderedAndProject — no global sort
    assert "TakeOrderedAndProject" in plan


def test_parquet_filter_pushdown(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_quantity") < 5
    ).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity" in plan
    # column pruning: ReadSchema carries only the 2 selected columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_comment" not in read_schema


def test_no_python_row_udfs_in_catalog(spark, sf_dir):
    """Every registered query must stay JVM-side or Arrow-vectorized:
    BatchEvalPython (row-at-a-time Python UDF) is banned; ArrowEvalPython /
    mapInPandas are the only Python surfaces allowed."""
    from knowledgebot_spark.registry import load

    for name, qd in load().items():
        if name.startswith("stream_"):
            continue  # streaming plans materialize through a memory sink
        plan = _plan(qd.fn(spark, sf_dir)).replace("BatchEvalPythonUDTF", "")
        # (UDTF node name contains the banned substring but is the declared
        # §2.3 UDTF surface, not a scalar row UDF — stripped before checking)
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time UDF"


def test_spine_partition_count_scales_with_shuffle_conf(spark, sf_dir):
    # sanity: AQE is on and the session honors the configured shuffle size
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 0


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Both sides bucketed on the join key -> the SMJ reads bucket files
    directly with NO Exchange before the join (the shuffle happens once at
    write time, amortized over every subsequent join)."""
    from knowledgebot_spark.registry import load

    df = load()["rel_bucketed_join"].fn(spark, sf_dir)
    plan = _plan(df)
    # the only allowed Exchange is the final aggregation's, after the join;
    # nothing upstream of the join may shuffle — bucketed scans feed
    # Sort->SMJ directly
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    ops = [
        line.split(") ", 1)[1].split(" ")[0]
        for line in plan.splitlines()
        if line.strip().startswith("(") and ") " in line
    ]
    join_idx = max(
        i for i, o in enumerate(ops) if o in ("SortMergeJoin", "ShuffledHashJoin")
    )
    scan_idxs = [i for i, o in enumerate(ops) if o == "Scan"]
    exchanges_before_join = [
        i for i, o in enumerate(ops) if o == "Exchange" and i < join_idx
    ]
    assert scan_idxs, plan
    assert not exchanges_before_join, (
        f"bucketed join still shuffles: ops={ops}"
    )


def test_tfidf_builds_without_spark_job(spark, sf_dir):
    """llm_tfidf_topterm used to call d.count() at plan-build (an eager
    driver-side job per invocation); N is now a broadcast one-row aggregate
    inside the plan.  Building the DataFrame must launch zero jobs."""
    from knowledgebot_spark.registry import load

    fn = load()["llm_tfidf_topterm"].fn
    fn(spark, sf_dir)  # warm parquet footer/schema metadata reads
    sc = spark.sparkContext
    group = "tfidf-build-audit"
    sc.setJobGroup(group, "assert no eager job during query build")
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert "n_docs" not in df.columns  # folded in, not leaked


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """rel_approx_distinct's falsifiable contract: HLL++ (rsd=0.01) lands
    within 5% of exact per group, so the in-query boolean the oracle
    checks is TRUE for every row."""
    from knowledgebot_spark.registry import load

    rows = load()["rel_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows and all(r.approx_within_5pct for r in rows)


def test_dedup_ngram_join_keys_include_sub_block(spark, sf_dir):
    """The blocked-pairwise dedup joins must carry the BLOCK_CAP sub-block
    key so a hot block cannot explode quadratically."""
    from knowledgebot_spark.registry import load

    for name in ("llm_dedup_ngram", "llm_dedup_embedding"):
        plan = _plan(load()[name].fn(spark, sf_dir))
        assert "sub" in plan, f"{name} lost the sub-block join key"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_binned_interval_join_no_allpairs(spark, sf_dir):
    """The binned range join must plan as an equi-join on the bin id —
    never BNLJ/cartesian — even with broadcast disabled (both-sides-large
    posture)."""
    from knowledgebot_spark.registry import load

    qd = load()["rel_join_interval_binned"]
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(qd.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_binned_interval_join_matches_direct(spark):
    """Bin-equi-join + refine == the direct theta join, including boundary
    inclusivity ([lo, hi)), intervals spanning many bins, and null bounds."""
    from knowledgebot_spark.operators.rangejoin import bin_interval_join

    points = spark.createDataFrame(
        [(1, 0.0), (2, 9.99), (3, 10.0), (4, 55.5), (5, -3.0), (6, 1000.0)],
        "pid bigint, v double",
    )
    intervals = spark.createDataFrame(
        [
            (10, 0.0, 10.0),      # [0, 10): catches 0.0, 9.99, not 10.0
            (11, 10.0, 10.0),     # empty interval
            (12, -5.0, 60.0),     # spans many bins
            (13, None, 10.0),     # null lo: never matches
            (14, 999.0, 1001.0),
        ],
        "iid bigint, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in bin_interval_join(
            points, intervals, "v", "lo", "hi", bin_width=7.0
        ).collect()
    )
    want = sorted(
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")),
        ).collect()
    )
    assert got == want and len(got) == 8


def test_no_allpairs_joins_in_catalog(spark, sf_dir):
    """Catalog-wide 100 TB invariant: no CartesianProduct anywhere, and no
    BroadcastNestedLoopJoin except where a documented small broadcast side
    makes it the honest physical strategy for a non-equi predicate."""
    from knowledgebot_spark.registry import load

    # Documented BNLJ-with-small-broadcast cases — the honest physical
    # strategy when one side is one row (query vector, corpus-size scalar)
    # or a small dim under a non-equi predicate:
    #   rel_join_range     half-open theta, supplier side broadcast
    #   llm_sim_bruteforce / llm_sim_filtered   1-row query vector
    #   llm_tfidf_topterm  1-row N aggregate folded in as broadcast scalar
    # Everything else must plan equi-joins (binned/bucketed/banded
    # formulations exist for every range-shaped op: asof, interval, LSH,
    # sub-blocked pairwise).
    BNLJ_ALLOWED = {
        "rel_join_range",
        "llm_sim_bruteforce",
        "llm_sim_filtered",
        "llm_sim_brp_mllib",  # 1-row recall-gate scalar crossJoined (r05 gated oracle)
        "llm_sim_lsh",
        "llm_sim_ivf",
        "llm_tfidf_topterm",
        "llm_epoch_mixture",  # 1-row scalars (weight denom, base sum, budget) crossJoined
        "llm_epoch_sample",  # same _epoch_mixture_frames 1-row scalars (denom, base sum, budget)
        "llm_epoch_pack",  # same _epoch_mixture_frames 1-row scalars (denom, base sum, budget)
        "llm_boilerplate_ngrams",
        "llm_source_mixing",  # 1-row total + 1-row norm broadcast scalars
        "rel_hll_sketch",  # 1-row merged-sketch x 1-row exact-total scalars
        "rel_kll_quantiles",  # 1-row merged-sketch x 1-row exact-band scalars
        "rel_theta_setops",  # 1-row sketch-estimates x 1-row exact scalars
        "rel_funnel_conversion",  # three 1-row stage counts crossJoined
        "llm_pagerank_knn",  # 1-row graph-size scalar broadcast into ranks
        "llm_kmeans_embeddings",  # 1-row collect_list(k centroids) broadcast
        "llm_pmi_collocations",  # 1-row corpus-size N broadcast scalar
        "rel_cuped_experiment",  # 1-row theta/mean broadcast scalars
        "rel_equi_depth_histogram",  # 1-row quantile-cutpoint array broadcast
        "llm_mmr_rerank",  # 1-row query vector + <=4-row selected-set broadcasts
        "llm_coreset_kcenter",  # <=4-row selected-set broadcast per FPS stage
        "rel_rolling_wau",  # fixed 7-row window-offset spine broadcast
        "rel_cusum_changepoint",  # 1-row mean/threshold scalar broadcast
        "llm_dataset_card",  # 1-row corpus-totals scalar broadcast
        "llm_index_delta",  # 1-row collect_list(4 cell centroids) broadcast
        "rel_funnel_time_constrained",  # three 1-row stage counts crossJoined
        "llm_lm_perplexity",  # 1-row vocab-list broadcast into OOV mapping
        "llm_bm25_search",  # 1-row corpus stats (N, avgdl) broadcast
        "llm_hybrid_fusion",  # full-outer of two <=10-row top-k lists
        "llm_context_assembly",  # inherits llm_hybrid_fusion's tiny fusion join
        "llm_query_expansion",  # inherits llm_bm25_search's 1-row stats broadcast
        "rel_benford_screen",  # 1-row total-count scalar broadcast
        "rel_exact_quantiles_distributed",  # 4-row quantile spec x 1-row N scalar
        "llm_dsir_score",  # 1-row corpus-totals scalar broadcast
        "rel_idle_customer_balance",  # 1-row avg-acctbal scalar broadcast (TPC-H Q22)
        "llm_bpe_merge_learn",  # 1-row argmax-merge pick broadcast per unrolled iteration
        "rel_cm_heavy_hitters",  # 4-row hash-row spine + 1-row total + <=d*w-cell sketch broadcasts
        "llm_knn_triangles",  # two 1-row census scalars crossJoined into the summary row
        "rel_important_stock",  # 1-row (total, n) scalar broadcast (TPC-H Q11 HAVING)
        "llm_power_iteration",  # 1-row max|u| renormalizer broadcast per unrolled matvec
        "rel_zorder_skipping",  # 1-row box-agg x 1-row total-count x 1-row bounds scalars
        "rel_bloom_join_prune",  # four 1-row count/sum scalars crossJoined into the report row
        "rel_table_fingerprint",  # 1-row min-key + 1-row dirty-checksum scalars crossJoined
        "rel_compaction_plan",  # 1-row target-size scalar broadcast into the file inventory
        "llm_leakage_safe_split",  # 1-row max-straddle proof scalar broadcast
        "llm_random_projection",  # 1-row input-energy scalar broadcast into per-dim ratios
        "rel_join_cardinality_sketch",  # 1-row exact-F2 x 1-row sketch-estimate scalars crossJoined
        "llm_kneser_ney_lm",  # 1-row vocab-list + 1-row bigram-type-count scalar broadcasts
    }
    for name, qd in load().items():
        if name.startswith("stream_"):
            continue  # streaming plans materialize through a memory sink
        plan = _plan(qd.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
        if name not in BNLJ_ALLOWED:
            assert (
                "BroadcastNestedLoopJoin" not in plan
            ), f"{name} plans a nested-loop join"


def test_shipping_priority_plan_shape(spark, sf_dir):
    """TPC-H Q3 shape: every selective filter reaches its parquet scan
    (PushedFilters), the dims broadcast, and the top-10 plans as
    TakeOrderedAndProject — never a global sort."""
    from knowledgebot_spark.registry import load

    plan = _plan(load()["rel_shipping_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GreaterThan(l_shipdate" in plan  # pushed to lineitem scan
    assert "LessThan(o_orderdate" in plan    # pushed to orders scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # pushed to customer scan


def test_observe_metrics_on_spine(spark, sf_dir):
    """Production observability: the Observation API collects row-count /
    distinct-count metrics from a query's own execution — no second pass
    over the data (the A3 run-counter pattern done the zero-cost way)."""
    from pyspark.sql import Observation

    from knowledgebot_spark.registry import load

    obs = Observation("spine_metrics")
    df = load()["kb_extract_blocks"].fn(spark, sf_dir)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("msg_key").alias("n_msgs"),
    )
    n = observed.count()
    assert obs.get["n_rows"] == n
    assert 0 < obs.get["n_msgs"] <= n


def test_global_shuffle_no_single_partition_sort(spark, sf_dir):
    """llm_global_shuffle must rank within shards (hash-partitioned window),
    never via a single-partition global sort — the difference between a
    plan that survives 100 TB and one that funnels the corpus through one
    task."""
    from knowledgebot_spark.registry import load

    plan = _plan(load()["llm_global_shuffle"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_segment_dedup_no_corpus_window(spark, sf_dir):
    """Winner election is a min-struct hash aggregation keyed by segment
    (map-side combinable), not a window over the corpus."""
    from knowledgebot_spark.registry import load

    plan = _plan(load()["llm_segment_dedup"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final winner agg


def test_runtime_bloom_filter_fires_on_shuffle_joins(spark, sf_dir):
    """Spark's runtime bloom-filter injection (on by default,
    spark.sql.optimizer.runtime.bloomFilter.enabled) is the 100 TB shuffle
    reducer: when a selective dim filter feeds a SHUFFLE join, the
    optimizer builds a bloom filter from the dim keys and semi-join-prunes
    the fact side BEFORE the exchange.  Locally every dim broadcasts (so
    the rule correctly stays out of the way — first assertion); this test
    recreates the at-scale geometry by disabling broadcast and dropping
    the size thresholds, then asserts the injection actually happens —
    pinning that the engine's session defaults don't silently defeat the
    feature."""
    sql = """
        SELECT o.o_orderpriority, count(*) AS n
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY o.o_orderpriority
    """
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    plan_bc = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" not in plan_bc  # broadcast join: no filter needed
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan  # probe side carries the filter
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """Scale-readiness: with AQE skew-join on (session.py defaults), a
    join against a pathologically hot key gets its oversized partitions
    SPLIT at runtime — the executed plan marks the SMJ `skew=true`.
    Thresholds are lowered locally so the 90%-hot-key fixture crosses
    them; on a cluster the defaults (256 MB) do the same job."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # the 4-partition test default flattens the skew ratio; 32 restores
        # a realistic median for the detector
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
        )
        right = spark.range(5_000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        agg = left.join(right, "k").agg(F.count(F.lit(1)))
        agg.collect()  # execute THIS QueryExecution so AQE finalizes it
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


# --- single-partition window audit (round-5; VERDICT r04 nit #1) --------------

# Queries ALLOWED to plan an unpartitioned Window, each with the structural
# reason the windowed relation is bounded.  Every entry must ALSO satisfy the
# mechanical subtree rule checked below (each corpus scan under the window
# passes an aggregate/limit barrier, possibly through the streamed side of a
# broadcast join whose other side is barriered), so the bound is
# plan-verified, not narrated.
UNPARTITIONED_WINDOW_ALLOWED = {
    "rel_running_distinct": "calendar spine: window over |days| rows post-agg",
    "rel_seasonal_decompose": "window over |days| rows post-agg",
    "rel_cusum_changepoint": "two O(1)-state windows over |days| rows post-agg",
    "llm_hybrid_fusion": "rank fusion over two <=10-row top-k lists",
    "llm_dedup_threshold_sweep": "sweep grid x LSH-candidate aggregate",
    "llm_context_assembly": "cumsum over <=10 fused rows (broadcast-join-bounded)",
    "llm_oov_curve": "rank over vocabulary aggregate",
    "rel_pareto_share": "distributed cumsum; offsets window over |partitions| rows",
    "rel_abc_classification": "distributed cumsum; offsets window over |partitions| rows",
    "llm_zipf_slope": "rank over vocabulary aggregate, top-1000 cut pushed down",
    # operators/ranking.py offset windows: |shuffle partitions| rows post-agg
    "llm_token_budget": "distributed cumsum; offsets window over |partitions| rows",
    "llm_quality_ensemble": "distributed ntile; offsets window over |partitions| rows",
    "rel_window_ntile": "distributed ntile; offsets window over |partitions| rows",
    "rel_exact_quantiles_distributed": "distributed rank; offsets window over |partitions| rows",
    "rel_concurrency_sweep": "distributed cumsum; offsets window over |partitions| rows",
    "rel_compaction_plan": "distributed cumsum; offsets window over |partitions| rows",
    "llm_epoch_mixture": "apportionment rank over |sources| post-agg rows; distributed cumsum offsets window over |partitions| rows",
    "llm_epoch_sample": "same _epoch_mixture_frames windows: apportionment rank over |sources| post-agg rows; distributed cumsum offsets window over |partitions| rows",
    "llm_epoch_pack": "same _epoch_mixture_frames windows: apportionment rank over |sources| post-agg rows; distributed cumsum offsets window over |partitions| rows",
}

_WINDOW_BARRIERS = (
    "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "TakeOrderedAndProject", "WindowGroupLimit", "CollectLimit",
    "GlobalLimit", "LocalLimit",
)
_WINDOW_LEAVES = ("FileScan", "Scan ExistingRDD")
_BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")


def _tree_indent(line):
    import re
    return len(re.match(r"^[\s:+|-]*", line).group(0))


def _is_unpartitioned_window(line):
    import re
    m = re.search(r"\bWindow (\[.*)$", line)
    if not m:
        return False
    depth, gs, cur = 0, [], ""
    for ch in m.group(1):
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                gs.append(cur)
                continue
        if depth >= 1:
            cur += ch
    if len(gs) >= 3:
        return False  # [exprs], [partition], [order]
    if len(gs) == 2:  # second group: order spec (unpartitioned) or partition
        return "ASC NULLS" in gs[1] or "DESC NULLS" in gs[1]
    return True


def _subtree_leaves_barriered(lines, start, end, base_indent):
    """True iff every leaf scan in lines[start:end] (a subtree under
    base_indent) has a barrier node on its path from the subtree root, or
    sits under a broadcast join whose other child subtree is itself fully
    barriered."""
    stack = []  # (indent, barriered, line_idx)
    for j in range(start, end):
        li = lines[j]
        di = _tree_indent(li)
        while stack and stack[-1][0] >= di:
            stack.pop()
        inherited = stack[-1][1] if stack else False
        is_b = any(b in li for b in _WINDOW_BARRIERS)
        if any(leaf in li for leaf in _WINDOW_LEAVES) and not (inherited or is_b):
            # rescue path: a broadcast-join ancestor whose OTHER child is
            # fully barriered bounds this side's output cardinality
            rescued = False
            for (ai, _ab, aj) in stack:
                if not any(bj in lines[aj] for bj in _BROADCAST_JOINS):
                    continue
                # other child blocks of the join = direct children not
                # containing line j
                k = aj + 1
                child_starts = []
                while k < end and _tree_indent(lines[k]) > ai:
                    if _tree_indent(lines[k]) == _tree_indent(lines[aj + 1]):
                        child_starts.append(k)
                    k += 1
                child_starts.append(k)
                for c in range(len(child_starts) - 1):
                    s, e = child_starts[c], child_starts[c + 1]
                    if s <= j < e:
                        continue  # our own branch
                    if _subtree_leaves_barriered(lines, s, e, _tree_indent(lines[s])):
                        rescued = True
                if rescued:
                    break
            if not rescued:
                return False
        stack.append((di, inherited or is_b, j))
    return True


def test_unpartitioned_windows_are_bounded(spark, sf_dir):
    """Catalog-wide: every unpartitioned Window must (a) belong to the
    documented allowlist and (b) mechanically prove its input bound in the
    physical plan — each leaf scan under the window passes an agg/limit
    barrier or a broadcast join bounded by a barriered other side.  New
    unpartitioned windows over raw corpus relations fail this test."""
    from knowledgebot_spark.registry import load

    offenders, unproven = [], []
    for name, qd in load().items():
        if name.startswith("stream_"):
            continue
        plan = _plan_simple(qd.fn(spark, sf_dir))
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if not _is_unpartitioned_window(line):
                continue
            if name not in UNPARTITIONED_WINDOW_ALLOWED:
                offenders.append(name)
                break
            d = _tree_indent(line)
            j = i + 1
            while j < len(lines) and _tree_indent(lines[j]) > d:
                j += 1
            if not _subtree_leaves_barriered(lines, i + 1, j, d):
                unproven.append(name)
                break
    assert not offenders, f"undocumented unpartitioned windows: {offenders}"
    assert not unproven, f"allowlisted but unproven window bounds: {unproven}"


def test_zipf_and_oov_push_topk_below_rank_window(spark, sf_dir):
    """llm_zipf_slope/llm_oov_curve rank the vocabulary with an
    unpartitioned row_number; the top-1000 cut (zipf) must reach the plan
    as TakeOrderedAndProject/WindowGroupLimit BELOW the window, and both
    must rank over a post-aggregate (vocabulary) relation only."""
    from knowledgebot_spark.registry import load

    cat = load()
    zipf = _plan_simple(cat["llm_zipf_slope"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in zipf or "WindowGroupLimit" in zipf
    for name in ("llm_zipf_slope", "llm_oov_curve"):
        plan = _plan_simple(cat[name].fn(spark, sf_dir))
        lines = plan.splitlines()
        idxs = [i for i, l in enumerate(lines) if _is_unpartitioned_window(l)]
        assert idxs, f"{name}: expected an unpartitioned vocab-rank window"
        for i in idxs:
            d = _tree_indent(lines[i])
            j = i + 1
            while j < len(lines) and _tree_indent(lines[j]) > d:
                j += 1
            assert _subtree_leaves_barriered(lines, i + 1, j, d), name


def _plan_simple(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning_reaches_scan(spark, sf_dir):
    """rel_partition_pruning's year predicate must resolve against
    partition directories (PartitionFilters), not data (PushedFilters) —
    and prune to exactly the 2 selected partitions."""
    from knowledgebot_spark.registry import load

    df = load()["rel_partition_pruning"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "order_year" in seg and seg.strip(), seg
    # the year filter must NOT degrade to a post-scan data filter (the
    # pruned scan may have no PushedFilters line at all)
    if "PushedFilters: [" in plan:
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "order_year" not in pushed


def test_mention_graph_single_extraction_subtree(spark, sf_dir):
    """kb_mention_graph materializes the aggregated edge list ONCE
    (localCheckpoint) before the reciprocity self-join — the plan must
    show the checkpointed RDD scan on both join sides instead of two
    full extraction subtrees (two message scans + two explodes + two
    agg shuffles)."""
    from knowledgebot_spark.queries_pipeline import kb_mention_graph

    df = kb_mention_graph(spark, sf_dir)
    plan = _plan(df)
    # the extraction pipeline is cut: no parquet scan, no explode/generate,
    # and no aggregate survives into the returned query's plan
    assert "Scan parquet" not in plan
    assert "Generate" not in plan
    # both join sides must read the checkpointed edge list (>= 2 mentions);
    # an exact count would couple the test to the formatted-explain
    # node/detail duplication of the current Spark version (ADVICE r09)
    assert plan.count("Scan ExistingRDD") >= 2
    rows = df.collect()
    assert rows and all(r.weight >= 1 for r in rows)
