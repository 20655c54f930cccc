"""Round-10 additions: delta-CC champion refresh (merge only touched
components), atomic snapshot commits for maintained tables, the
parquet-sink streaming thread-latency shape, and the epoch-mixture
sample materializer."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F


# --- delta-CC refresh (VERDICT r09 #2/#3) ---------------------------------------


def test_delta_cc_labels_equal_full_cc(spark, sf_dir, tmp_path):
    """VERDICT r09 #3 done-condition: after two maintenance batches, the
    DELTA-maintained label snapshot must equal a full alternating-star run
    over the accumulated edge ledger — node for node, label for label."""
    from knowledgebot_spark.operators.dedup import alternating_star_components
    from knowledgebot_spark.queries_streaming import (
        _champion_maintain,
        _labels_table,
    )
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "delta_cc")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    _champion_maintain(base, docs.filter(F.col("doc_id") <= mid), 0)
    _champion_maintain(base, docs.filter(F.col("doc_id") > mid), 1)

    delta = {
        (r.node, r.label)
        for r in _labels_table(spark, base).collect()
    }
    edges = spark.read.parquet(f"{base}/edges").distinct()
    full = {
        (r.node, r.label)
        for r in alternating_star_components(edges).collect()
    }
    assert delta == full
    assert delta, "model guarantees near-dup clusters"


def test_champion_refresh_never_reads_docs_ledger(spark, sf_dir, tmp_path):
    """The stats ledger is EDGE-BOUNDED (only new-edge endpoints enter),
    so the champion refresh has a near-dup-node-sized input instead of the
    corpus — the 'never the corpus' claim, now checkable: every stats row
    is an edge endpoint, and every edge endpoint has a stats row."""
    from knowledgebot_spark.queries_streaming import _champion_maintain
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "stats_bound")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    _champion_maintain(base, docs.filter(F.col("doc_id") <= mid), 0)
    _champion_maintain(base, docs.filter(F.col("doc_id") > mid), 1)

    stats_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{base}/stats")
        .select("doc_id")
        .distinct()
        .collect()
    }
    edges = spark.read.parquet(f"{base}/edges").distinct().collect()
    endpoint_ids = {r.id_a for r in edges} | {r.id_b for r in edges}
    assert stats_ids == endpoint_ids
    # edge-bounded: far fewer rows than the corpus would contribute
    assert len(stats_ids) < docs.count()


def test_snapshot_commit_kill_mid_rewrite(spark, tmp_path):
    """VERDICT r09 #5 done-condition: a crash mid-rewrite never exposes a
    partial champion table.  Simulate the kill by writing a PARTIAL next
    version dir without flipping CURRENT — readers must still see the old
    committed version — then replay the commit and see the new one."""
    from knowledgebot_spark.queries_streaming import (
        _snapshot_commit,
        _snapshot_read,
    )

    table = str(tmp_path / "snap")
    df1 = spark.range(3).select(F.col("id").alias("cluster_id"))
    _snapshot_commit(df1, table)
    assert {r.cluster_id for r in _snapshot_read(spark, table).collect()} == {
        0,
        1,
        2,
    }

    # simulated crash: the next generation dir exists but is partial
    # (no parquet footer, no _SUCCESS) and CURRENT was never flipped
    partial = os.path.join(table, "v000000002")
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-00000.snappy.parquet"), "wb") as fh:
        fh.write(b"\x00\x01garbage, not a parquet footer")
    assert {r.cluster_id for r in _snapshot_read(spark, table).collect()} == {
        0,
        1,
        2,
    }

    # replayed commit overwrites the partial dir and flips atomically
    df2 = spark.range(5).select(F.col("id").alias("cluster_id"))
    _snapshot_commit(df2, table)
    assert {r.cluster_id for r in _snapshot_read(spark, table).collect()} == {
        0,
        1,
        2,
        3,
        4,
    }


def test_champion_maintain_three_batches_still_converges(spark, sf_dir, tmp_path):
    """Delta-CC across MORE than two batches (chained merges: a component
    may be touched again and again) still lands on the one-shot table."""
    from knowledgebot_spark.queries_corpus import llm_dedup_champion
    from knowledgebot_spark.queries_streaming import (
        _champion_maintain,
        _champion_table,
    )
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "champ3")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    for i in range(3):
        _champion_maintain(base, docs.filter(F.col("doc_id") % 3 == i), i)
    incremental = {tuple(r) for r in _champion_table(spark, base).collect()}
    oneshot = {tuple(r) for r in llm_dedup_champion(spark, sf_dir).collect()}
    assert incremental == oneshot


# --- sharded manifest snapshots (round 10) ---------------------------------------


def test_manifest_untouched_shards_not_rewritten(spark, sf_dir, tmp_path):
    """The point of sharding: a second batch must NOT rewrite label/champion
    shards none of whose labels it touched — their manifest entries (and so
    their on-disk generation dirs) carry over verbatim."""
    from knowledgebot_spark.queries_streaming import (
        _champion_maintain,
        _manifest_load,
    )
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "shards")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    _champion_maintain(base, docs, 0)
    man0 = _manifest_load(f"{base}/snap")
    # increment: 3 EXACT duplicates of existing docs under new ids —
    # guaranteed new edges, each touching exactly one existing component
    inc = (
        docs.orderBy("doc_id")
        .limit(3)
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    _champion_maintain(base, inc, 1)
    man1 = _manifest_load(f"{base}/snap")

    assert man1["gen"] > man0["gen"]
    lab0, lab1 = man0["tables"]["labels"], man1["tables"]["labels"]
    carried = [s for s in lab0 if lab1.get(s) == lab0[s]]
    rewritten = [s for s in lab1 if lab1[s] != lab0.get(s)]
    assert rewritten, "the increment must touch at least one shard"
    assert carried, (
        "a ~3% increment must leave at least one shard untouched — if every "
        "shard was rewritten the delta write bound is broken"
    )
    # champions share the touched set
    ch0, ch1 = man0["tables"]["champions"], man1["tables"]["champions"]
    assert sorted(s for s in ch1 if ch1[s] != ch0.get(s)) == sorted(rewritten)


def test_manifest_crash_before_flip_is_invisible_and_replayable(spark, tmp_path):
    """Kill-mid-commit at the manifest level: a crash AFTER staging (even
    after some shard renames) but BEFORE the single os.replace leaves
    readers on the previous manifest for BOTH tables; the replayed commit
    lands cleanly."""
    import pytest

    from knowledgebot_spark import queries_streaming as qs

    root = str(tmp_path / "snap")
    n = qs._SNAP_SHARDS

    def upd(vals, key):
        df = spark.createDataFrame(
            [(v, v * 10) for v in vals], f"{key} long, x long"
        ).withColumn("_shard", F.pmod(F.col(key), F.lit(n)).cast("int"))
        return (df, {v % n for v in vals})

    qs._manifest_commit(root, {"labels": upd([1, 2], "node"),
                               "champions": upd([1, 2], "cluster_id")}, n)
    before = qs._manifest_load(root)

    real_replace = os.replace

    def boom(src, dst, *a, **k):
        if dst.endswith("CURRENT"):
            raise OSError("simulated crash before the manifest flip")
        return real_replace(src, dst, *a, **k)

    import unittest.mock as mock

    with mock.patch("os.replace", side_effect=boom):
        with pytest.raises(OSError, match="simulated crash"):
            qs._manifest_commit(
                root,
                {"labels": upd([1, 2, 3], "node"),
                 "champions": upd([3], "cluster_id")},
                n,
            )

    # both tables still read at the OLD committed state
    assert qs._manifest_load(root) == before
    lab = qs._manifest_table_read(spark, root, "labels")
    ch = qs._manifest_table_read(spark, root, "champions")
    assert {r.node for r in lab.collect()} == {1, 2}
    assert {r.cluster_id for r in ch.collect()} == {1, 2}

    # the replayed commit (same content, same recomputed gen) lands whole
    qs._manifest_commit(
        root,
        {"labels": upd([1, 2, 3], "node"), "champions": upd([3], "cluster_id")},
        n,
    )
    lab = qs._manifest_table_read(spark, root, "labels")
    assert {r.node for r in lab.collect()} == {1, 2, 3}


def test_labels_and_champions_never_out_of_step(spark, sf_dir, tmp_path):
    """The r09 two-pointer scheme could commit labels and leave champions
    stale across a crash (the replayed batch contracts to an all-internal
    edge set and early-returns).  With the single manifest both tables
    flip together: after every batch, champion rows exist exactly for the
    committed label set's clusters, one per cluster."""
    from knowledgebot_spark.queries_streaming import (
        _champion_maintain,
        _champion_table,
        _labels_table,
    )
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "lockstep")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    for i in range(2):
        _champion_maintain(base, docs.filter(F.col("doc_id") % 2 == i), i)
        labels = _labels_table(spark, base).collect()
        champs = _champion_table(spark, base).collect()
        assert {r.label for r in labels} == {r.cluster_id for r in champs}
        assert len(champs) == len({r.cluster_id for r in champs})


def test_docs_ledger_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The verify probe's docs-ledger read is FILE-level bounded, not just
    join-width bounded: the ledger is partitioned by pmod(doc_id, D) and
    the probe filters on the partition key, so a read restricted to a few
    candidate partitions opens strictly fewer files than the spine."""
    from knowledgebot_spark.queries_streaming import (
        _champion_maintain,
        _DOCS_PARTS,
    )
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "dp_prune")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    _champion_maintain(base, docs.filter(F.col("doc_id") <= mid), 0)
    _champion_maintain(base, docs.filter(F.col("doc_id") > mid), 1)

    ledger = spark.read.parquet(f"{base}/docs")
    assert "dp" in ledger.columns
    n_all = ledger.select(F.input_file_name()).distinct().count()
    # literals via the PRODUCTION derivation (round 11: the test used its
    # own string literals, so a regression in the real path's literal
    # type was invisible)
    from knowledgebot_spark.queries_streaming import _docs_probe_partition_values

    cand0 = docs.select("doc_id").filter(F.col("doc_id") % _DOCS_PARTS == 0)
    dps = _docs_probe_partition_values(cand0, _DOCS_PARTS)
    assert dps == ["0"]
    one = ledger.filter(F.col("dp").isin(dps))
    # files ACTUALLY read under the partition filter (inputFiles() lists
    # the pre-pruning index, so count via input_file_name at execution)
    n_one = one.select(F.input_file_name()).distinct().count()
    assert 0 < n_one < n_all, (n_one, n_all)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dp" in plan
    # the partition filter must be CAST-FREE: with type inference pinned
    # off the dp column is string, so string literals are the exact-type
    # match — a cast in the filter means the literals regressed to a
    # coerced type and pruning rides on Spark-version-sensitive behavior
    # (ADVICE r10 #2, re-verified round 11)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and all("cast(" not in ln.lower() for ln in pf), pf
    # the pruned read still holds exactly the pmod-0 ids
    ids = [r.doc_id for r in one.select("doc_id").collect()]
    assert ids and all(i % _DOCS_PARTS == 0 for i in ids)


# --- parquet-sink streaming (VERDICT r09 #4) ------------------------------------


def test_run_to_parquet_replay_idempotent(spark, tmp_path):
    """run_to_parquet's per-batch overwrite partitions make a re-delivered
    batch rewrite its own data instead of double-counting."""
    from knowledgebot_spark.streaming.pipeline import run_to_parquet

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.range(10).select(F.col("id").cast("long").alias("v")).write.parquet(src)
    stream = spark.readStream.schema("v long").parquet(src)
    got = run_to_parquet(stream, out, str(tmp_path / "ck1"))
    assert got.count() == 10
    # simulate a replay of batch 0 with a fresh checkpoint: same rows land
    # in the same batch_id=0 partition, no double-count
    stream2 = spark.readStream.schema("v long").parquet(src)
    got2 = run_to_parquet(stream2, out, str(tmp_path / "ck2"))
    assert got2.count() == 10
    assert {r.v for r in got2.collect()} == set(range(10))


def test_run_to_parquet_empty_stream_runs_no_task(spark, tmp_path):
    """A stream that lands no batch returns an empty frame with the
    stream's schema, and reading it runs no (Python worker) task."""
    from knowledgebot_spark.streaming.pipeline import run_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("v long").parquet(str(src))
    got = run_to_parquet(stream, str(tmp_path / "out"), str(tmp_path / "ck"))
    assert got.schema == stream.schema
    sc = spark.sparkContext
    group = "run-to-parquet-empty"
    sc.setJobGroup(group, group)
    try:
        assert got.collect() == []
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    tasks = sum(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    )
    assert tasks == 0


# --- epoch-mixture sample materializer (round 10) -------------------------------


def test_epoch_sample_matches_plan_everywhere(spark, sf_dir):
    """Every source's materialized sample must hit the plan's
    achieved_tokens exactly, with exactly full_epochs*n_docs+n_tail_docs
    replicas."""
    from knowledgebot_spark.queries_llm import llm_epoch_mixture, llm_epoch_sample

    plan = {r.source: r for r in llm_epoch_mixture(spark, sf_dir).collect()}
    sample = llm_epoch_sample(spark, sf_dir).collect()
    assert {r.source for r in sample} == set(plan)
    for r in sample:
        p = plan[r.source]
        assert r.matches_plan, r
        assert r.sample_tokens == p.achieved_tokens
        assert r.achieved_tokens == p.achieved_tokens
        assert r.n_sample_rows == p.full_epochs * p.n_docs + p.n_tail_docs


def test_epoch_sample_checksum_pins_tail_membership(spark, sf_dir):
    """The multiset checksum must distinguish WHICH docs got the extra
    tail replica: recompute it from the plan + a pandas replay of the
    md5-order greedy prefix and require equality."""
    import hashlib

    from knowledgebot_spark.queries_llm import (
        _EPOCH_CAP,
        llm_epoch_mixture,
        llm_epoch_sample,
    )

    plan = {r.source: r for r in llm_epoch_mixture(spark, sf_dir).collect()}
    sample = {r.source: r for r in llm_epoch_sample(spark, sf_dir).collect()}
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    docs["n_toks"] = docs["text"].str.lower().str.split(" ").str.len()
    docs["h"] = docs["doc_id"].map(
        lambda i: hashlib.md5(f"{i}:epoch".encode()).hexdigest()
    )
    for src in sorted(plan)[:3]:
        p = plan[src]
        sub = docs[docs["source"] == src].sort_values(["h", "doc_id"])
        capped = min(p.target_tokens, _EPOCH_CAP * p.n_tokens)
        residual = capped % p.n_tokens
        # full-epoch replicas: doc_id * (1 + ... + full_epochs)
        tri = p.full_epochs * (p.full_epochs + 1) // 2
        checksum = int(sub["doc_id"].sum()) * tri
        cum = 0
        for doc_id, t in zip(sub["doc_id"], sub["n_toks"]):
            if cum >= residual:
                break
            checksum += int(doc_id) * (p.full_epochs + 1)
            cum += t
        assert sample[src].sample_checksum == checksum, src
