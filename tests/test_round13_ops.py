"""Round-13 invariants: bounded file/dir growth on the incremental pack
path (VERDICT r12 #1), the batch-subdir segment fold's crash windows,
the n_lp fold/probe consistency guard, and the empty-stream read guard
(ADVICE r12)."""

from __future__ import annotations

import os

import pytest

from tests.test_round12_ops import _ordered_multifile_docs


def _dir_count(root: str) -> int:
    n = 0
    for _base, dirs, _files in os.walk(root):
        n += len(dirs)
    return n


def _file_count(root: str) -> int:
    n = 0
    for _base, _dirs, files in os.walk(root):
        n += len(files)
    return n


def test_pack_incremental_growth_bounded(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r12 #1 done-condition: across >= 3x compact_every batches,
    the pack path's live dir/file counts stay O(compact_every + folds) —
    state keeps exactly the last two generations, closed pack/decisions
    batch subdirs fold into write-once base segments — and the pack
    table is byte-identical to the unfolded (compact_every=0) run."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.tables import read_table

    # one file per segment: at test scale the default 4-file fan-out per
    # segment would dominate the handful of tail files it replaces
    monkeypatch.setenv("KB_BATCH_FOLD_FILES", "1")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    n_batches = 7  # > 3x compact_every below
    bounds = [ids[len(ids) * i // n_batches] for i in range(n_batches)] + [
        ids[-1] + 1
    ]
    compact_every = 2

    folded = str(tmp_path / "folded")
    plain = str(tmp_path / "plain")
    for i in range(n_batches):
        b = docs.filter(
            (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
        )
        qs._pack_incr_batch(
            b, i, f"{folded}/packs", f"{folded}/state", compact_every
        )
        qs._pack_incr_batch(b, i, f"{plain}/packs", f"{plain}/state")

    # byte-identical pack table (fold is a pure move+merge)
    cols = ["doc_id", "source", "n_toks", "pack_id"]
    got = {
        tuple(r)
        for r in qs._batch_ledger_read(
            spark, f"{folded}/packs", qs._PACK_ROWS_SCHEMA
        )
        .select(*cols)
        .collect()
    }
    want = {
        tuple(r)
        for r in qs._batch_ledger_read(
            spark, f"{plain}/packs", qs._PACK_ROWS_SCHEMA
        )
        .select(*cols)
        .collect()
    }
    assert got == want and got

    # state: exactly the last two generations survive (replay grace = 1);
    # the prune is unconditional, so the control run is pruned too
    for run in (folded, plain):
        state_gens = sorted(os.listdir(f"{run}/state"))
        assert state_gens == [
            f"batch_id={n_batches - 2}",
            f"batch_id={n_batches - 1}",
        ], (run, state_gens)
    # the control run (no fold cadence) keeps one tail subdir per batch —
    # the O(B) growth the fold bounds
    assert (
        len(os.listdir(f"{plain}/packs/tail")) == n_batches
    ), os.listdir(f"{plain}/packs/tail")

    # packs: folds ran at batches 2, 4, 6, each covering <= batch-1; live
    # tail subdirs are bounded by compact_every + 1, segments by #folds
    tail_dirs = [
        d
        for d in os.listdir(f"{folded}/packs/tail")
        if d.startswith("batch_id=")
    ]
    assert len(tail_dirs) <= compact_every + 1, tail_dirs
    segs = [
        d
        for d in os.listdir(f"{folded}/packs/base")
        if d.startswith("seg_")
    ]
    assert 0 < len(segs) <= n_batches // compact_every, segs
    # and the fold actually shrank the live tree vs the unfolded run
    assert _dir_count(folded) < _dir_count(plain)
    assert _file_count(folded) < _file_count(plain)


def test_batch_ledger_fold_crash_windows_are_exact(spark, tmp_path, monkeypatch):
    """The segment fold's two crash windows leave the READ exact (no
    dedup anywhere): (a) crash mid-segment-write -> FOLDED_THRU not
    flipped, readers skip the partial segment, the retried fold sweeps
    and rewrites it; (b) crash between the flip and the tail deletes ->
    readers skip tails <= FOLDED_THRU, the next fold retires them
    without re-reading."""
    import shutil as _shutil

    from knowledgebot_spark import queries_streaming as qs

    root = str(tmp_path / "bl")
    schema = "doc_id BIGINT, source STRING, is_blocked BOOLEAN"
    all_rows = set()
    for bid in range(4):
        rows = [(bid * 10 + k, f"s{k % 2}", False) for k in range(5)]
        all_rows |= set(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{root}/tail/batch_id={bid}")

    # (b) crash AFTER the flip, BEFORE the tail deletes
    real_rmtree = _shutil.rmtree

    def crashing_rmtree(p, *a, **kw):
        if f"{root}/tail/" in str(p):
            raise RuntimeError("injected crash before tail delete")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", crashing_rmtree)
    with pytest.raises(RuntimeError, match="injected crash"):
        qs.batch_ledger_fold(spark, root, upto=1)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    assert qs._batch_ledger_folded_thru(root) == 1  # flip happened
    # folded tails still on disk, but the read is exact (no double count)
    assert os.path.isdir(f"{root}/tail/batch_id=0")
    got = {
        tuple(r) for r in qs._batch_ledger_read(spark, root, schema).collect()
    }
    assert got == all_rows

    # (a) crash mid-segment-write on the NEXT fold: partial segment is
    # invisible, the retried fold converges

    class _Boom(RuntimeError):
        pass

    real_replace = os.replace

    def crashing_replace(src, dst):
        if dst.endswith("FOLDED_THRU"):
            raise _Boom("injected crash before pointer flip")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crashing_replace)
    with pytest.raises(_Boom):
        qs.batch_ledger_fold(spark, root, upto=3)
    monkeypatch.setattr(os, "replace", real_replace)

    assert qs._batch_ledger_folded_thru(root) == 1  # pointer unmoved
    got = {
        tuple(r) for r in qs._batch_ledger_read(spark, root, schema).collect()
    }
    assert got == all_rows  # partial segment invisible
    # retried fold sweeps the partial segment and completes
    assert qs.batch_ledger_fold(spark, root, upto=3) > 0
    assert qs._batch_ledger_folded_thru(root) == 3
    assert not [
        d
        for d in os.listdir(f"{root}/tail")
        if d.startswith("batch_id=")
    ]
    got = {
        tuple(r) for r in qs._batch_ledger_read(spark, root, schema).collect()
    }
    assert got == all_rows


def test_bucket_ledger_n_lp_mismatch_raises(spark, tmp_path):
    """ADVICE r12: pruning exactness depends on the probe and the fold
    agreeing on n_lp.  The fold records n_lp in the base snapshot's
    meta; a later fold (or probe derivation) with a different value must
    raise instead of silently dropping colliding signatures."""
    from knowledgebot_spark import queries_streaming as qs

    ledger = str(tmp_path / "lg")
    rows = [(b, f"v{b % 3}", b * 10) for b in range(12)]
    spark.createDataFrame(
        rows, "band INT, bv STRING, doc_id BIGINT"
    ).write.mode("append").parquet(f"{ledger}/tail")
    assert qs.bucket_ledger_fold(spark, ledger, 8) > 0
    assert (qs._snapshot_meta(f"{ledger}/base") or {}).get("n_lp") == 8
    # matching probe derivation passes through
    assert qs._ledger_recorded_n_lp(f"{ledger}/base", 8) == 8
    # mismatched probe derivation fails loudly
    with pytest.raises(ValueError, match="n_lp=8"):
        qs._ledger_recorded_n_lp(f"{ledger}/base", 16)
    # mismatched fold fails loudly too (before touching the base)
    spark.createDataFrame(
        [(99, "v9", 990)], "band INT, bv STRING, doc_id BIGINT"
    ).write.mode("append").parquet(f"{ledger}/tail")
    with pytest.raises(ValueError, match="n_lp=8"):
        qs.bucket_ledger_fold(spark, ledger, 16)


def test_empty_stream_pack_returns_empty_frame(spark, tmp_path, monkeypatch):
    """ADVICE r12: a stream that delivered zero rows (empty corpus, or
    every doc blocked) must return an EMPTY result frame with the
    declared schema, not fail parquet schema inference."""
    from knowledgebot_spark import queries_streaming as qs

    empty_sf = str(tmp_path / "sfempty")
    os.makedirs(empty_sf)
    spark.createDataFrame(
        [],
        "doc_id BIGINT, source STRING, lang STRING, text STRING, "
        "n_chars BIGINT",
    ).write.parquet(f"{empty_sf}/documents.parquet")

    out = qs.stream_pack_incremental(spark, empty_sf)
    assert out.count() == 0
    assert set(out.columns) == {
        "source", "pack_id", "n_docs", "pack_tokens", "pack_checksum",
    }
    out2 = qs.stream_gated_pack_incremental(spark, empty_sf)
    assert out2.count() == 0
    assert set(out2.columns) == set(out.columns)


def test_streaming_growth_bound_end_to_end(spark, sf_dir, tmp_path, monkeypatch):
    """End-to-end over the registered query: stream_gated_pack_incremental
    under a tight compact cadence folds decisions AND packs while the
    result stays identical to the single-batch run."""
    from knowledgebot_spark import queries_streaming as qs

    one = {
        tuple(r)
        for r in qs.stream_gated_pack_incremental(spark, sf_dir).collect()
    }
    assert one

    fake_sf = str(tmp_path / "sfg13")
    os.makedirs(fake_sf)
    _ordered_multifile_docs(spark, sf_dir, fake_sf, n_files=6)
    monkeypatch.setenv("KB_STREAM_MAX_FILES", "1")
    monkeypatch.setenv("KB_GATE_COMPACT_EVERY", "2")

    captured = {}
    real_run_base = qs._run_base

    def spy_run_base(name, sf):
        base = real_run_base(name, sf)
        captured["base"] = base
        return base

    monkeypatch.setattr(qs, "_run_base", spy_run_base)
    six = {
        tuple(r)
        for r in qs.stream_gated_pack_incremental(spark, fake_sf).collect()
    }
    assert six == one

    base = captured["base"]
    # folds ran: decisions and packs both have committed segments, and
    # the live tail subdir count is bounded by the cadence
    for ledger in ("decisions", "packs"):
        assert qs._batch_ledger_folded_thru(f"{base}/{ledger}") >= 0, ledger
        tails = [
            d
            for d in os.listdir(f"{base}/{ledger}/tail")
            if d.startswith("batch_id=")
        ]
        assert len(tails) <= 3, (ledger, tails)
    # state: at most the last two generations
    assert len(os.listdir(f"{base}/state")) <= 2


def test_ooo_stream_arrives_in_waves(spark, sf_dir, tmp_path):
    """The ooo ingest feed's arrival contract: one micro-batch per wave,
    arrival_seq non-decreasing ACROSS batches (the ooo gate's oracle
    precondition), and genuinely out of doc_id order — some later batch
    carries a smaller doc_id than an earlier batch's max.  Without the
    multi-batch shape the cross-batch first-arrival path would be
    silently unexercised (everything in one batch == in-batch dominance
    only)."""
    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.streaming import pipeline as sp

    seen = []

    def _observe(batch, batch_id):
        from pyspark.sql import functions as F

        r = batch.agg(
            F.min("doc_id"),
            F.max("doc_id"),
            F.min("arrival_seq"),
            F.max("arrival_seq"),
            F.count("*"),
        ).collect()[0]
        if r[4]:
            seen.append((batch_id, r[0], r[1], r[2], r[3], r[4]))

    q = (
        sp.read_documents_stream_ooo(
            spark, sf_dir, qs._OOO_WAVES, qs._OOO_SEQ_BASE
        )
        .writeStream.foreachBatch(_observe)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    seen.sort()
    assert len(seen) == qs._OOO_WAVES
    for (_, _, _, _, max_seq, _), (_, _, _, min_seq2, _, _) in zip(
        seen, seen[1:]
    ):
        assert max_seq < min_seq2  # arrival_seq ordered across batches
    assert any(
        later[1] < earlier[2]  # later batch min doc_id < earlier max
        for i, earlier in enumerate(seen)
        for later in seen[i + 1 :]
    )


def test_ooo_gate_first_arrival_wins(spark, sf_dir):
    """The two gate contracts provably diverge on this corpus (both
    difference directions non-empty — an id-ordered-blocked doc the ooo
    gate admits because it ARRIVED first, and vice versa), and the
    streaming ooo decisions equal the one-shot first-arrival-wins
    restatement computed independently in batch mode (bucket-MIN over
    arrival_seq) — the same rule the DuckDB oracle states."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.tables import read_table

    base_blocked = {
        r.doc_id
        for r in qs._neardup_gate_decisions(spark, sf_dir, "t13_gate_base")
        .filter("is_blocked")
        .collect()
    }
    ooo_blocked = {
        r.doc_id
        for r in qs._neardup_gate_decisions(
            spark, sf_dir, "t13_gate_ooo", dom_col="arrival_seq"
        )
        .filter("is_blocked")
        .collect()
    }
    assert base_blocked and ooo_blocked
    assert base_blocked - ooo_blocked, "no doc blocked only under id order"
    assert ooo_blocked - base_blocked, "no doc blocked only under arrival order"

    seqd = read_table(spark, sf_dir, "documents").select(
        F.expr(
            f"pmod(doc_id, {qs._OOO_WAVES}) * {qs._OOO_SEQ_BASE}L + doc_id"
        ).alias("arrival_seq"),
        "text",
    )
    hashed = seqd.select(
        "arrival_seq", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    bands = dd.lsh_bands(dd.with_minhash(hashed, "arrival_seq"), "arrival_seq")
    m = bands.groupBy("band", "bv").agg(F.min("arrival_seq").alias("m"))
    oneshot = {
        r.arrival_seq % qs._OOO_SEQ_BASE
        for r in bands.join(m, ["band", "bv"])
        .filter(F.col("m") < F.col("arrival_seq"))
        .select("arrival_seq")
        .distinct()
        .collect()
    }
    assert ooo_blocked == oneshot


def test_ttl_gate_window_and_ledger_expiry(spark, sf_dir, tmp_path):
    """The retention-windowed gate: (1) its blocked set is a PROPER
    subset of the unwindowed ooo gate's (window can only admit more —
    and docs whose only bucket-mates arrived > _TTL_WAVES waves earlier
    provably escape on this corpus); (2) decisions equal the one-shot
    windowed rule; (3) after scheduled folds the ledger base carries NO
    signature older than the window — the O(window x batch) state bound
    that is the query's point."""
    from pyspark.sql import functions as F

    from knowledgebot_spark import queries_streaming as qs
    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.expr(
            f"pmod(doc_id, {qs._OOO_WAVES}) * {qs._OOO_SEQ_BASE}L + doc_id"
        ).alias("arrival_seq"),
    )
    ledger = str(tmp_path / "ledger")
    decisions = str(tmp_path / "decisions")
    os.makedirs(f"{ledger}/tail", exist_ok=True)
    compact_every = 2  # folds fire mid-run, exercising expiry
    for w in range(qs._OOO_WAVES):
        qs._gate_batch(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(qs._OOO_WAVES)) == w),
            w,
            ledger,
            decisions,
            qs._GATE_LEDGER_PARTS,
            compact_every,
            dom_col="arrival_seq",
            ttl_waves=qs._TTL_WAVES,
            seq_base=qs._OOO_SEQ_BASE,
        )
    dec = qs._batch_ledger_read(spark, decisions, qs._DECISIONS_SCHEMA)
    ttl_blocked = {r.doc_id for r in dec.filter("is_blocked").collect()}

    # one-shot windowed rule, computed independently
    bands = dd.lsh_bands(
        dd.with_minhash(
            docs.select(
                "arrival_seq",
                F.expr(dd.shingle_hash_expr("text")).alias("shingles"),
            ),
            "arrival_seq",
        ),
        "arrival_seq",
    )
    a, b = bands.alias("a"), bands.alias("b")
    sb, k = qs._OOO_SEQ_BASE, qs._TTL_WAVES
    oneshot = {
        r.did % sb
        for r in b.join(
            a,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.arrival_seq") < F.col("b.arrival_seq"))
            & (
                (F.col("a.arrival_seq") / sb).cast("long")
                >= (F.col("b.arrival_seq") / sb).cast("long") - k
            ),
        )
        .select(F.col("b.arrival_seq").alias("did"))
        .distinct()
        .collect()
    }
    assert ttl_blocked == oneshot

    # proper subset of the unwindowed ooo gate
    ooo_blocked = {
        r.doc_id
        for r in qs._neardup_gate_decisions(
            spark, sf_dir, "t13_gate_ooo_ref", dom_col="arrival_seq"
        )
        .filter("is_blocked")
        .collect()
    }
    assert ttl_blocked < ooo_blocked  # strict: window admits more

    # ledger expiry: the last fold ran with the cutoff of its trigger
    # batch — nothing OLDER than that batch's window may survive in base
    base_path = qs._snapshot_current(f"{ledger}/base")
    assert base_path is not None
    last_fold_wave = max(
        w
        for w in range(qs._OOO_WAVES)
        if compact_every and w > 0 and w % compact_every == 0
    )
    cutoff = (last_fold_wave - k) * sb
    n_expired = (
        spark.read.parquet(base_path)
        .filter(F.col("arrival_seq") < cutoff)
        .count()
    )
    assert n_expired == 0
