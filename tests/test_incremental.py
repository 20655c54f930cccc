"""End-to-end incremental run tests (SURVEY.md §5.2 item 2): golden-ish
fixture -> chunk table; edited message replaces chunks; tag removal deletes
them; checkpoint advances with pre-scan stamp."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knowledgebot_spark import incremental
from knowledgebot_spark.incremental import batch_scope, run_extraction
from knowledgebot_spark.sinks import checkpoint
from knowledgebot_spark.sinks.checkpoint import IncrementalRun

MSG_SCHEMA = (
    "msg_id bigint, channel_id string, ts_micros bigint, ts_raw string, "
    "thread_ts_raw string, thread_ts_micros bigint, user_id string, "
    "msg_text string, full_text string"
)

DAY = 86400 * 1_000_000


def _msg(i, channel, text, thread=None, user="U000001"):
    ts = i * DAY
    return (
        i,
        channel,
        ts,
        f"{i}.000000",
        f"{thread}.000000" if thread is not None else None,
        thread * DAY if thread is not None else None,
        user,
        text,
        text,
    )


@pytest.fixture()
def dims(spark):
    users = spark.createDataFrame(
        [("U000001", "Alice"), ("U000002", "Bob")], ["user_id", "real_name"]
    )
    channels = spark.createDataFrame(
        [("C1", "general", "t", "p")], ["channel_id", "name", "topic", "purpose"]
    )
    members = spark.createDataFrame(
        [("C1", "U000001", "Alice"), ("C1", "U000002", "Bob")],
        ["channel_id", "user_id", "real_name"],
    )
    return users, channels, members


def _run(spark, dims, msgs_rows, out, state, now_days):
    users, channels, members = dims
    msgs = spark.createDataFrame(msgs_rows, MSG_SCHEMA)
    return run_extraction(
        spark, msgs, users, channels, members,
        output_path=out, state_path=state, now_micros=now_days * DAY,
    )


def test_incremental_runs_and_edit_reprocessing(spark, dims, tmp_path):
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")

    # run 1 at day 10: two knowledge messages, one plain
    rows1 = [
        _msg(8, "C1", "#KNOWLEDGE v1 of eight #END"),
        _msg(9, "C1", "#KNOWLEDGE nine #END", user="U000002"),
        _msg(10, "C1", "no tags"),
    ]
    stats = _run(spark, dims, rows1, out, state, now_days=10)
    assert stats["checkpoint_before"] == 0
    assert stats["checkpoint_after"] == 10 * DAY
    assert stats["n_reprocessed_keys"] == 3
    table = spark.read.parquet(out)
    assert {r.msg_key for r in table.select("msg_key").collect()} == {
        "C1_8.000000", "C1_9.000000"
    }
    assert table.filter(F.col("msg_key") == "C1_8.000000").collect()[0].content == (
        "v1 of eight"
    )

    # run 2 at day 12: only new messages are in scope (msg 9 edited via
    # #EDIT reply -> parent re-extracted with NEW parent text version)
    rows2 = rows1 + [
        _msg(11, "C1", "#KNOWLEDGE eleven #END"),
        _msg(12, "C1", "#EDIT fix", thread=9),
    ]
    # simulate the parent having been edited in place (Slack edit)
    rows2[1] = _msg(9, "C1", "#KNOWLEDGE nine-v2 #END", user="U000002")
    stats2 = _run(spark, dims, rows2, out, state, now_days=12)
    assert stats2["checkpoint_before"] == 10 * DAY
    # the two new messages plus the #EDIT parent they reopened (msg 9)
    assert stats2["n_reprocessed_keys"] == 3
    table = spark.read.parquet(out)
    got = {r.msg_key: r.content for r in table.select("msg_key", "content").collect()}
    # msg 8 untouched (old run's output preserved), 9 replaced, 11 added
    assert got == {
        "C1_8.000000": "v1 of eight",
        "C1_9.000000": "nine-v2",
        "C1_11.000000": "eleven",
    }


def test_tag_removal_deletes_chunks(spark, dims, tmp_path):
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    rows1 = [_msg(8, "C1", "#KNOWLEDGE text #END"), _msg(9, "C1", "#KNOWLEDGE k9 #END")]
    _run(spark, dims, rows1, out, state, now_days=10)
    assert spark.read.parquet(out).count() == 2

    # day 12: an #EDIT reply re-processes msg 8, whose text no longer has a
    # knowledge block -> K2 tombstone removes its chunks entirely
    rows2 = [
        _msg(8, "C1", "tag was removed"),
        _msg(9, "C1", "#KNOWLEDGE k9 #END"),
        _msg(11, "C1", "#EDIT remove it", thread=8),
    ]
    _run(spark, dims, rows2, out, state, now_days=12)
    table = spark.read.parquet(out)
    assert {r.msg_key for r in table.select("msg_key").collect()} == {"C1_9.000000"}


def test_rerun_same_window_is_idempotent(spark, dims, tmp_path):
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    rows = [_msg(8, "C1", "#KNOWLEDGE a #END also #KNOWLEDGE b #END")]
    _run(spark, dims, rows, out, state, now_days=10)
    snap1 = sorted(map(tuple, spark.read.parquet(out).collect()))
    # same now -> ckpt advanced to 10d; re-running with now=10d again
    # processes nothing (all msgs <= ckpt) and must not change the table
    _run(spark, dims, rows, out, state, now_days=10)
    snap2 = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert snap1 == snap2


def test_run_executes_its_scope_once(spark, dims, tmp_path, rows_read):
    """The scope (fresh scan, #EDIT parent join, dedup) runs once per run:
    the chunks and the tombstone targets both come from its collected
    rows, so the write does not scan the messages again.  The table does
    not exist yet, so every record the run reads is a message."""
    src = str(tmp_path / "messages")
    rows = [_msg(i, "C1", f"#KNOWLEDGE k{i} #END") for i in range(1, 9)]
    rows.append(_msg(9, "C1", "#EDIT fix", thread=3))
    spark.createDataFrame(rows, MSG_SCHEMA).coalesce(1).write.parquet(src)
    msgs = spark.read.parquet(src)
    users, channels, members = dims

    once = rows_read(
        "scope-once-reference",
        lambda: batch_scope(msgs, 0).write.format("noop").mode("overwrite").save(),
    )
    run = rows_read(
        "scope-once-run",
        lambda: run_extraction(
            spark, msgs, users, channels, members,
            output_path=str(tmp_path / "chunks"), state_path=str(tmp_path / "state"),
            now_micros=10 * DAY,
        ),
    )
    assert once > 0
    assert run == once, f"the run read {run} message records; one scope execution reads {once}"
    assert spark.read.parquet(str(tmp_path / "chunks")).count() == 8


def test_crash_before_the_checkpoint_commit_heals_on_rerun(
    spark, dims, tmp_path, monkeypatch
):
    """A run that dies after its upsert but before the checkpoint commit
    raises and leaves the old stamp; re-running it gives the table and the
    checkpoint of a run that never crashed."""
    rows1 = [_msg(8, "C1", "#KNOWLEDGE eight #END"), _msg(9, "C1", "#KNOWLEDGE nine #END")]
    rows2 = [
        _msg(8, "C1", "tag was removed"),
        _msg(9, "C1", "#KNOWLEDGE nine-v2 #END"),
        _msg(11, "C1", "#EDIT remove it", thread=8),
        _msg(12, "C1", "#KNOWLEDGE twelve #END"),
    ]

    def snapshot(out):
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    clean_out, clean_state = str(tmp_path / "clean"), str(tmp_path / "clean_state")
    _run(spark, dims, rows1, clean_out, clean_state, now_days=10)
    _run(spark, dims, rows2, clean_out, clean_state, now_days=12)

    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    _run(spark, dims, rows1, out, state, now_days=10)
    save = checkpoint.save_state

    def crash(*args):
        raise OSError("injected crash")

    monkeypatch.setattr(checkpoint, "save_state", crash)
    with pytest.raises(OSError, match="injected crash"):
        _run(spark, dims, rows2, out, state, now_days=12)
    assert IncrementalRun(state, 0).checkpoint_micros == 10 * DAY

    monkeypatch.setattr(checkpoint, "save_state", save)
    stats = _run(spark, dims, rows2, out, state, now_days=12)
    assert stats["checkpoint_before"] == 10 * DAY
    assert IncrementalRun(state, 0).checkpoint_micros == 12 * DAY
    assert IncrementalRun(clean_state, 0).checkpoint_micros == 12 * DAY
    assert snapshot(out) == snapshot(clean_out)


def _reads(df, dim):
    """How many leaves of ``df``'s analyzed plan scan ``dim``'s relation."""
    leaf = dim._jdf.queryExecution().analyzed()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(leaves.apply(i).sameResult(leaf) for i in range(leaves.size()))


def test_batch_joins_the_channels_dim_once(spark, dims, tmp_path, monkeypatch):
    """The channel join runs once per batch, before the scope collect: the
    chunk rows handed to the sink are built from the collected rows, which
    already carry ``channel_name`` and ``msg_date``, and read the
    channels dim no more."""
    _users, channels, members = dims
    written = []

    def upsert(spark, path, new_rows, **kwargs):
        written.append(new_rows)
        return real_upsert(spark, path, new_rows, **kwargs)

    real_upsert = incremental.upsert_chunks
    monkeypatch.setattr(incremental, "upsert_chunks", upsert)
    rows = [_msg(8, "C1", "#KNOWLEDGE a #END"), _msg(9, "C1", "#KNOWLEDGE b #END")]
    _run(spark, dims, rows, str(tmp_path / "chunks"), str(tmp_path / "state"), 10)

    (chunks,) = written
    assert _reads(chunks, members) == 1
    assert _reads(chunks, channels) == 0
    assert {r.channel_name for r in chunks.collect()} == {"general"}


def _files_and_mtimes(path):
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _dirs, files in os.walk(path)
        for f in files
    }


def test_empty_arrival_window_leaves_table_and_advances_checkpoint(
    spark, dims, tmp_path
):
    """No fresh message and no #EDIT: the collected scope has zero rows,
    nothing is written, and the checkpoint still moves to the new stamp."""
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    rows = [_msg(8, "C1", "#KNOWLEDGE a #END"), _msg(9, "C1", "plain")]
    _run(spark, dims, rows, out, state, now_days=10)
    files = _files_and_mtimes(out)

    stats = _run(spark, dims, rows, out, state, now_days=12)
    assert stats["n_reprocessed_keys"] == 0
    assert (stats["checkpoint_before"], stats["checkpoint_after"]) == (10 * DAY, 12 * DAY)
    assert IncrementalRun(state, 0).checkpoint_micros == 12 * DAY
    assert _files_and_mtimes(out) == files


def test_unknown_channel_yields_no_chunk_and_no_tombstone(spark, dims, tmp_path):
    """F6: a message of a channel missing from the channel dim makes no
    chunk and no tombstone target (no null-channel partition appears),
    while a known channel's stored chunk in the same batch is replaced."""
    out, state = str(tmp_path / "chunks"), str(tmp_path / "state")
    _run(spark, dims, [_msg(8, "C1", "#KNOWLEDGE old #END")], out, state, now_days=10)

    rows = [
        _msg(8, "C1", "#KNOWLEDGE new #END"),
        _msg(11, "C1", "#EDIT fix", thread=8),
        _msg(12, "C9", "#KNOWLEDGE orphan #END"),
    ]
    stats = _run(spark, dims, rows, out, state, now_days=12)
    # msg 8 (reopened by its #EDIT reply) and the reply itself; not msg 12
    assert stats["n_reprocessed_keys"] == 2
    got = {
        (r.msg_key, r.channel_name, r.content)
        for r in spark.read.parquet(out).select("msg_key", "channel_name", "content").collect()
    }
    assert got == {("C1_8.000000", "general", "new")}
    assert sorted(
        d for d in os.listdir(out) if not d.startswith(("_", "."))
    ) == ["channel_name=general"]
