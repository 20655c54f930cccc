"""Round-12 additions: the bootstrap nodes-index claw-back (two-commit
bootstrap), the frozen-schema manifest invariant, the flat-ledger
stage-dir sweep, and the ingest-gated epoch pack composition."""

from __future__ import annotations

import os

import pytest


# --- bootstrap two-commit claw-back (VERDICT r11 #3) -------------------------------


def test_bootstrap_still_commits_nodes_index(spark, sf_dir, tmp_path):
    """The bootstrap batch now commits labels+champions then the nodes
    index as an immediate second flip (half the hot-exchange rows); the
    END state must be indistinguishable from the one-commit version:
    nodes == labels row-for-row, next delta batch shard-prunable."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "boot2c")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    qs._champion_maintain(base, docs, 0)
    man = qs._manifest_load(f"{base}/snap")
    assert man is not None and "nodes" in man["tables"]
    assert man["gen"] == 2, "bootstrap should be exactly two manifest flips"
    labels = {
        (r.node, r.label)
        for r in qs._manifest_table_read(spark, f"{base}/snap", "labels").collect()
    }
    nodes = {
        (r.node, r.label)
        for r in qs._manifest_table_read(spark, f"{base}/snap", "nodes").collect()
    }
    assert labels and nodes == labels
    # nodes shards really are node-keyed (prunable by endpoint shard)
    n = qs._SNAP_SHARDS
    for s in man["tables"]["nodes"]:
        got = qs._manifest_table_read(spark, f"{base}/snap", "nodes", {int(s)})
        if got is None:
            continue
        bad = got.filter(F.pmod("node", F.lit(n)).cast("int") != int(s)).count()
        assert bad == 0, f"nodes shard {s} holds foreign-node rows"


def test_bootstrap_crash_between_flips_is_recoverable(spark, sf_dir, tmp_path, monkeypatch):
    """A crash BETWEEN the bootstrap's labels+champions flip and its
    nodes flip leaves the loudly-guarded no-'nodes'-index state, and
    rebuild_nodes_index is the advertised repair — after it, the next
    delta batch proceeds normally."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.tables import read_table

    base = str(tmp_path / "bootcrash")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )

    real_commit = qs._manifest_commit
    calls = {"n": 0}

    def crashing_commit(root, updates, n_shards):
        calls["n"] += 1
        if calls["n"] == 2:  # the nodes flip
            raise RuntimeError("injected crash before nodes flip")
        return real_commit(root, updates, n_shards)

    monkeypatch.setattr(qs, "_manifest_commit", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        qs._champion_maintain(base, docs.filter(F.col("doc_id") % 2 == 0), 0)
    monkeypatch.setattr(qs, "_manifest_commit", real_commit)

    # the guarded state: delta refresh refuses to run on it
    with pytest.raises(ValueError, match="no 'nodes' index"):
        qs._champion_maintain(base, docs.filter(F.col("doc_id") % 2 == 1), 1)

    # the tested repair, then business as usual
    assert qs.rebuild_nodes_index(spark, f"{base}/snap") > 0
    qs._champion_maintain(base, docs.filter(F.col("doc_id") % 2 == 1), 1)
    labels = {
        (r.node, r.label)
        for r in qs._manifest_table_read(spark, f"{base}/snap", "labels").collect()
    }
    nodes = {
        (r.node, r.label)
        for r in qs._manifest_table_read(spark, f"{base}/snap", "nodes").collect()
    }
    assert labels and nodes == labels


# --- frozen-schema manifest invariant (ADVICE r11) ---------------------------------


def test_manifest_commit_rejects_schema_evolution(spark, tmp_path):
    """_manifest_table_read projects OLD-generation shard files with the
    LATEST column list and no mergeSchema; a commit that silently changed
    a table's column set would make reads sampling-dependent.  The commit
    must refuse."""
    from knowledgebot_spark.queries_streaming import _manifest_commit

    root = str(tmp_path / "frozen")
    df = spark.createDataFrame(
        [(1, 1, 1)], "node BIGINT, label BIGINT, _shard INT"
    )
    _manifest_commit(root, {"labels": (df, {1})}, 4)
    # same schema again: fine (the normal per-batch path)
    _manifest_commit(root, {"labels": (df, {1})}, 4)
    evolved = spark.createDataFrame(
        [(1, 1, 0, 1)], "node BIGINT, label BIGINT, extra BIGINT, _shard INT"
    )
    with pytest.raises(ValueError, match="frozen-schema"):
        _manifest_commit(root, {"labels": (evolved, {1})}, 4)


# --- ingest-gated epoch pack (VERDICT r11 #5) --------------------------------------


def test_ingest_gated_docs_never_packed(spark, sf_dir):
    """VERDICT r11 #5 done-condition: a document the near-dup gate
    blocked must never appear in ANY pack of the composed
    ingest -> gate -> mixture -> pack query.  Packed docs are a subset
    of admitted (a low-weight source legitimately packs only its
    residual-prefix docs when full_epochs = 0), and every admitted doc
    of a full-epoch source must appear."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.queries_llm import _epoch_pack_rows
    from knowledgebot_spark.tables import read_table

    dec = qs._neardup_gate_decisions(spark, sf_dir, "test_gate_pack")
    blocked = {r.doc_id for r in dec.filter("is_blocked").collect()}
    admitted = {r.doc_id for r in dec.filter("NOT is_blocked").collect()}
    assert blocked, "fixture has no near-dups — test vacuous"
    assert admitted

    docs = read_table(spark, sf_dir, "documents").join(
        dec.filter(~F.col("is_blocked")).select("doc_id"), "doc_id", "left_semi"
    )
    packed = {
        r.doc_id
        for r in _epoch_pack_rows(docs).select("doc_id").distinct().collect()
    }
    assert not (packed & blocked), sorted(packed & blocked)[:5]
    assert packed and packed <= admitted, (
        f"packed-but-not-admitted: {sorted(packed - admitted)[:5]}"
    )
    # sources replicated at >= 1 full epoch must pack EVERY admitted doc
    from knowledgebot_spark.queries_llm import _epoch_frames_from

    plan, _ws = _epoch_frames_from(docs)
    full_sources = {
        r.source for r in plan.filter("full_epochs >= 1").collect()
    }
    assert full_sources, "no full-epoch source at this weight draw — vacuous"
    admitted_full = {
        r.doc_id
        for r in docs.select("doc_id", "source").collect()
        if r.source in full_sources
    }
    assert admitted_full <= packed, (
        f"full-epoch docs missing from packs: {sorted(admitted_full - packed)[:5]}"
    )


def test_ingest_pack_composition_matches_stage_outputs(spark, sf_dir):
    """The composed query must be exactly its two registered stages run
    back-to-back: per-source pack totals == the gate's n_kept docs'
    token mass, and the registered query's own output equals packing the
    gate-admitted corpus directly (no recipe drift inside the
    composition)."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.queries_llm import _epoch_pack_agg, _epoch_pack_rows
    from knowledgebot_spark.tables import read_table

    out = {
        (r.source, r.pack_id): (r.n_docs, r.pack_tokens, r.pack_checksum)
        for r in qs.stream_epoch_ingest_pack(spark, sf_dir).collect()
    }
    dec = qs._neardup_gate_decisions(spark, sf_dir, "test_gate_pack2")
    docs = read_table(spark, sf_dir, "documents").join(
        dec.filter(~F.col("is_blocked")).select("doc_id"), "doc_id", "left_semi"
    )
    want = {
        (r.source, r.pack_id): (r.n_docs, r.pack_tokens, r.pack_checksum)
        for r in _epoch_pack_agg(_epoch_pack_rows(docs)).collect()
    }
    assert out == want


# --- gate signature-ledger discipline (round 12) -----------------------------------


def test_gate_ledger_partition_pruning_and_compaction(spark, sf_dir, tmp_path, monkeypatch):
    """The near-dup gate's signature ledger gets the champion ledgers'
    discipline, LSM-shaped: flat tail appends (no hot-path shuffle),
    folded every KB_GATE_COMPACT_EVERY batches into a base snapshot
    partitioned by lp = pmod(xxhash64(band, bv), P) whose probe prunes
    to partitions that can hold a batch bucket (cast-free partition
    filters via the production literal derivation) — and the decisions
    under multi-batch ordered ingest still equal the one-shot dominance
    rule (pruning must never hide a colliding signature)."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.sinks.compaction import partition_file_counts
    from knowledgebot_spark.tables import read_table

    monkeypatch.setenv("KB_STREAM_MAX_FILES", "1")
    monkeypatch.setenv("KB_GATE_COMPACT_EVERY", "2")
    fake_sf = str(tmp_path / "sfgate")
    os.makedirs(fake_sf)
    docs = read_table(spark, sf_dir, "documents")
    # 5 ascending-range files with ASCENDING mtimes: the file stream
    # source orders batches by modification time, not by name, and the
    # gate's oracle contract requires doc_id-ordered ingest
    ddir = f"{fake_sf}/documents.parquet"
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    bounds = [ids[len(ids) * i // 5] for i in range(5)] + [ids[-1] + 1]
    t0 = int(__import__("time").time()) - 3600
    staged: set[str] = set()
    from pyspark.sql import functions as FF

    for i in range(5):
        docs.filter(
            (FF.col("doc_id") >= bounds[i]) & (FF.col("doc_id") < bounds[i + 1])
        ).coalesce(1).write.mode("append").parquet(ddir)
        for f in os.listdir(ddir):
            p = os.path.join(ddir, f)
            if f.endswith(".parquet") and p not in staged:
                os.utime(p, (t0 + i * 10, t0 + i * 10))
                staged.add(p)

    captured = {}
    real_run_base = qs._run_base

    def spy_run_base(name, sf):
        base = real_run_base(name, sf)
        captured["base"] = base
        return base

    monkeypatch.setattr(qs, "_run_base", spy_run_base)
    dec = qs._neardup_gate_decisions(spark, fake_sf, "gate_prune_test")

    # decisions equal the one-shot dominance rule (blocked iff ANY
    # smaller doc_id shares a band bucket) despite pruned probes
    hashed = docs.select(
        "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    bands = dd.lsh_bands(dd.with_minhash(hashed), "doc_id").persist()
    expected_blocked = {
        r.doc_id
        for r in bands.alias("b")
        .join(
            bands.select("band", "bv", F.col("doc_id").alias("id_a")),
            ["band", "bv"],
        )
        .filter(F.col("id_a") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    got_blocked = {r.doc_id for r in dec.filter("is_blocked").collect()}
    assert expected_blocked, "fixture has no near-dups — test vacuous"
    assert got_blocked == expected_blocked

    ledger = os.path.join(captured["base"], "ledger")
    # folds ran at batch ids 2 and 4 (of 0..4): the tail is empty and
    # the base snapshot holds every signature, one file per lp partition
    tail_files = [
        f for f in os.listdir(f"{ledger}/tail") if f.endswith(".parquet")
    ]
    assert not tail_files, tail_files
    base_path = qs._snapshot_current(f"{ledger}/base")
    assert base_path, "no committed base snapshot after the scheduled folds"
    counts = partition_file_counts(base_path, ("lp",))
    assert counts and max(counts.values()) == 1, counts
    # ledger rows == the corpus band signatures, row-identical
    led = spark.read.parquet(base_path)
    assert {
        (r.band, r.bv, r.doc_id)
        for r in led.select(
            F.col("band").cast("int").alias("band"), "bv", "doc_id"
        ).collect()
    } == {(r.band, r.bv, r.doc_id) for r in bands.collect()}

    # a sparse probe prunes: one doc's buckets cover < P partitions, the
    # partition filter is cast-free, and fewer files are actually read
    n_lp = qs._GATE_LEDGER_PARTS
    one_doc = docs.orderBy("doc_id").limit(1)
    one_bands = dd.lsh_bands(
        dd.with_minhash(
            one_doc.select(
                "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
            )
        ),
        "doc_id",
    )
    lps = qs._bucket_probe_partition_values(one_bands, n_lp)
    assert 0 < len(lps) < n_lp
    pruned = led.filter(F.col("lp").isin(lps))
    n_all = led.select(F.input_file_name()).distinct().count()
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lp" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and all("cast(" not in ln.lower() for ln in pf), pf
    bands.unpersist()


def test_champion_bands_probe_prunes_partitions(spark, sf_dir, tmp_path, monkeypatch):
    """The champion bands ledger shares the gate's LSM discipline (round
    12): the folded base is partitioned by lp = pmod(xxhash64(band, bv),
    _BANDS_PARTS), so the per-batch collision probe — previously
    the champion path's last corpus-scale read — prunes its base scan to
    the batch's own bucket shards, cast-free, via the production literal
    derivation; and maintenance over the folded layout stays correct."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.tables import read_table

    monkeypatch.setenv("KB_LEDGER_COMPACT_EVERY", "0")  # manual fold below
    base = str(tmp_path / "bands_prune")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    qs._champion_maintain(base, docs.filter(F.col("doc_id") % 2 == 0), 0)
    qs._champion_maintain(base, docs.filter(F.col("doc_id") % 2 == 1), 1)
    champs_before = {
        tuple(r) for r in qs._champion_table(spark, base).collect()
    }
    out = qs.champion_ledger_compact(spark, base)
    assert out["bands"] > 0, "no tail files folded"
    assert not [
        f
        for f in os.listdir(f"{base}/bands/tail")
        if f.endswith(".parquet")
    ], "fold left tail files"

    base_path = qs._snapshot_current(f"{base}/bands/base")
    assert base_path, "fold committed no base snapshot"
    ledger = spark.read.parquet(base_path)
    assert "lp" in ledger.columns
    n_all = ledger.select(F.input_file_name()).distinct().count()
    one_doc = docs.orderBy("doc_id").limit(1)
    one_bands = dd.lsh_bands(
        dd.with_minhash(
            one_doc.select(
                "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
            )
        ),
        "doc_id",
    )
    lps = qs._bucket_probe_partition_values(one_bands, qs._BANDS_PARTS)
    assert 0 < len(lps) < qs._BANDS_PARTS
    pruned = ledger.filter(F.col("lp").isin(lps))
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and all("cast(" not in ln.lower() for ln in pf), pf
    # and the pruned probe is EXACT for those buckets: every ledger row
    # sharing a bucket with the one-doc batch is inside the pruned read
    full_hits = {
        (r.band, r.bv, r.doc_id)
        for r in ledger.join(
            one_bands.select("band", "bv").distinct(), ["band", "bv"]
        )
        .select("band", "bv", "doc_id")
        .collect()
    }
    pruned_hits = {
        (r.band, r.bv, r.doc_id)
        for r in pruned.join(
            one_bands.select("band", "bv").distinct(), ["band", "bv"]
        )
        .select("band", "bv", "doc_id")
        .collect()
    }
    assert full_hits == pruned_hits and full_hits
    # maintenance over the folded base stays correct: replaying batch 0
    # finds every edge already known -> champion table unchanged
    qs._champion_maintain(base, docs.filter(F.col("doc_id") % 2 == 0), 99)
    assert {
        tuple(r) for r in qs._champion_table(spark, base).collect()
    } == champs_before


def test_bucket_ledger_fold_crash_replay_converges(spark, tmp_path, monkeypatch):
    """The fold's documented crash contract: a crash between the base
    CURRENT flip and the tail deletes leaves the folded rows ALSO in the
    tail (duplicates — benign for the dominance rule), readers stay on a
    committed base at every instant, and the next fold dedups the
    replayed rows instead of accumulating them."""
    import os as _os

    from knowledgebot_spark import queries_streaming as qs

    ledger = str(tmp_path / "bl")
    tail = f"{ledger}/tail"
    rows = [(b, f"v{b%3}", b * 10) for b in range(12)]
    spark.createDataFrame(
        rows, "band INT, bv STRING, doc_id BIGINT"
    ).write.mode("append").parquet(tail)

    real_unlink = _os.unlink
    def crashing_unlink(p):
        if p.startswith(tail):
            raise RuntimeError("injected crash before tail delete")
        return real_unlink(p)

    monkeypatch.setattr(_os, "unlink", crashing_unlink)
    with pytest.raises(RuntimeError, match="injected crash"):
        qs.bucket_ledger_fold(spark, ledger, 8)
    monkeypatch.setattr(_os, "unlink", real_unlink)

    # base committed (flip preceded the crash), tail rows still present
    base_path = qs._snapshot_current(f"{ledger}/base")
    assert base_path
    assert [f for f in _os.listdir(tail) if f.endswith(".parquet")]
    # replayed fold: dedups, deletes the tail, same distinct row set
    assert qs.bucket_ledger_fold(spark, ledger, 8) > 0
    assert not [f for f in _os.listdir(tail) if f.endswith(".parquet")]
    base_path2 = qs._snapshot_current(f"{ledger}/base")
    got = sorted(
        (r.band, r.bv, r.doc_id)
        for r in spark.read.parquet(base_path2)
        .select("band", "bv", "doc_id")
        .collect()
    )
    assert got == sorted(rows)


# --- incremental streaming pack materialization (round 12) -------------------------


def _ordered_multifile_docs(spark, sf_dir, out_dir, n_files=4):
    """documents written as n_files ascending-doc_id files with ascending
    mtimes, so the file stream source delivers doc_id-ordered batches."""
    import time as _time

    from knowledgebot_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    ddir = f"{out_dir}/documents.parquet"
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    bounds = [ids[len(ids) * i // n_files] for i in range(n_files)] + [ids[-1] + 1]
    t0 = int(_time.time()) - 3600
    staged: set[str] = set()
    from pyspark.sql import functions as FF

    for i in range(n_files):
        docs.filter(
            (FF.col("doc_id") >= bounds[i]) & (FF.col("doc_id") < bounds[i + 1])
        ).coalesce(1).write.mode("append").parquet(ddir)
        for f in os.listdir(ddir):
            p = os.path.join(ddir, f)
            if f.endswith(".parquet") and p not in staged:
                os.utime(p, (t0 + i * 10, t0 + i * 10))
                staged.add(p)
    return docs


def test_pack_incremental_batch_boundary_invariance(spark, sf_dir, tmp_path, monkeypatch):
    """The maintained pack table must be byte-identical whether the same
    doc_id-ordered corpus arrives as ONE batch or as four — pack
    boundaries depend only on the arrival order, never on where the
    harness cut the micro-batches — and a re-delivered batch (crash
    replay) must leave the table unchanged (it re-reads its original
    input state and overwrites its own outputs)."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs

    one = {
        tuple(r)
        for r in qs.stream_pack_incremental(spark, sf_dir).collect()
    }
    assert one

    fake_sf = str(tmp_path / "sfpack")
    os.makedirs(fake_sf)
    docs = _ordered_multifile_docs(spark, sf_dir, fake_sf, n_files=4)
    monkeypatch.setenv("KB_STREAM_MAX_FILES", "1")
    four = {
        tuple(r)
        for r in qs.stream_pack_incremental(spark, fake_sf).collect()
    }
    assert four == one

    # replay: re-deliver batch 1 over a manually driven state chain
    base = str(tmp_path / "replay")
    packs_dir, state_dir = f"{base}/packs", f"{base}/state"
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    b0 = docs.filter(F.col("doc_id") <= half)
    b1 = docs.filter(F.col("doc_id") > half)
    qs._pack_incr_batch(b0, 0, packs_dir, state_dir)
    qs._pack_incr_batch(b1, 1, packs_dir, state_dir)
    before = {
        tuple(r)
        for r in qs._batch_ledger_read(
            spark, packs_dir, qs._PACK_ROWS_SCHEMA
        ).collect()
    }
    qs._pack_incr_batch(b1, 1, packs_dir, state_dir)  # re-delivery
    after = {
        tuple(r)
        for r in qs._batch_ledger_read(
            spark, packs_dir, qs._PACK_ROWS_SCHEMA
        ).collect()
    }
    assert after == before
    # and the two-batch manual chain agrees with the one-shot result
    two = {
        tuple(r)
        for r in qs._batch_ledger_read(spark, packs_dir, qs._PACK_ROWS_SCHEMA)
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("pack_tokens"),
            F.sum("doc_id").cast("long").alias("pack_checksum"),
        )
        .collect()
    }
    assert two == one


def test_pack_incr_empty_batch_carries_state(spark, sf_dir, tmp_path):
    """An EMPTY micro-batch (availableNow can deliver one) must still
    write its state generation — batch N+1 reads exactly batch N's
    state dir, so a skipped write would reset every source's offset to
    zero and silently restart pack numbering."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    b0 = docs.filter(F.col("doc_id") <= half)
    b2 = docs.filter(F.col("doc_id") > half)
    empty = docs.filter(F.lit(False))

    with_gap = str(tmp_path / "gap")
    qs._pack_incr_batch(b0, 0, f"{with_gap}/packs", f"{with_gap}/state")
    qs._pack_incr_batch(empty, 1, f"{with_gap}/packs", f"{with_gap}/state")
    qs._pack_incr_batch(b2, 2, f"{with_gap}/packs", f"{with_gap}/state")

    no_gap = str(tmp_path / "nogap")
    qs._pack_incr_batch(b0, 0, f"{no_gap}/packs", f"{no_gap}/state")
    qs._pack_incr_batch(b2, 1, f"{no_gap}/packs", f"{no_gap}/state")

    def packs(base):
        return {
            (r.source, r.doc_id, r.pack_id)
            for r in qs._batch_ledger_read(
                spark, f"{base}/packs", qs._PACK_ROWS_SCHEMA
            ).collect()
        }

    assert packs(with_gap) == packs(no_gap)


def test_gated_pack_incremental_excludes_blocked(spark, sf_dir, tmp_path, monkeypatch):
    """The fully-streaming composition: under multi-batch doc_id-ordered
    ingest, the pack table equals the single-batch run byte-for-byte
    (batch boundaries are a harness artifact even with the gate in the
    loop), and at doc level a blocked document never reaches any pack
    while every admitted document is packed (arrival-order packing has
    no mixture weights — nothing is legitimately left out)."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs

    one = {
        tuple(r)
        for r in qs.stream_gated_pack_incremental(spark, sf_dir).collect()
    }
    assert one

    fake_sf = str(tmp_path / "sfgp")
    os.makedirs(fake_sf)
    _ordered_multifile_docs(spark, sf_dir, fake_sf, n_files=4)
    monkeypatch.setenv("KB_STREAM_MAX_FILES", "1")

    captured = {}
    real_run_base = qs._run_base

    def spy_run_base(name, sf):
        base = real_run_base(name, sf)
        captured["base"] = base
        return base

    monkeypatch.setattr(qs, "_run_base", spy_run_base)
    four = {
        tuple(r)
        for r in qs.stream_gated_pack_incremental(spark, fake_sf).collect()
    }
    assert four == one

    dec = qs._batch_ledger_read(
        spark, os.path.join(captured["base"], "decisions"), qs._DECISIONS_SCHEMA
    )
    blocked = {r.doc_id for r in dec.filter("is_blocked").collect()}
    admitted = {r.doc_id for r in dec.filter("NOT is_blocked").collect()}
    assert blocked, "fixture has no near-dups — test vacuous"
    packed = {
        r.doc_id
        for r in qs._batch_ledger_read(
            spark, os.path.join(captured["base"], "packs"), qs._PACK_ROWS_SCHEMA
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert not (packed & blocked), sorted(packed & blocked)[:5]
    assert packed == admitted, (
        f"admitted-but-unpacked: {sorted(admitted - packed)[:5]}; "
        f"packed-but-not-admitted: {sorted(packed - admitted)[:5]}"
    )


# --- flat-ledger stage-dir sweep (ADVICE r11) --------------------------------------


def test_compact_flat_ledger_sweeps_abandoned_stage_dirs(spark, tmp_path):
    """A crash between the staged write and the move-in loop leaks a
    `.compact_<uuid>` sibling; the next pass must sweep it (and its own
    pass must leave none behind)."""
    from knowledgebot_spark.queries_streaming import _compact_flat_ledger

    d = str(tmp_path / "ledger")
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).toDF("id_a").write.mode(
            "append"
        ).parquet(d)
    # simulate the abandoned stage of a crashed prior pass
    orphan = f"{d}.compact_deadbeef"
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-x.parquet"), "w") as fh:
        fh.write("junk")

    before = {r.id_a for r in spark.read.parquet(d).collect()}
    retired = _compact_flat_ledger(spark, d, max_files=4)
    assert retired > 0
    assert not os.path.exists(orphan), "abandoned stage dir not swept"
    parent = os.path.dirname(d)
    strays = [e for e in os.listdir(parent) if ".compact_" in e]
    assert not strays, f"pass left its own stage dirs: {strays}"
    assert {r.id_a for r in spark.read.parquet(d).collect()} == before
