"""Keyed idempotent sink + checkpoint tests (SURVEY.md §5.2 item 2: re-run
idempotency, tag-removal tombstone, checkpoint pre-scan stamping)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from knowledgebot_spark.sinks.checkpoint import IncrementalRun, load_state, save_state
from knowledgebot_spark.sinks.keyed_parquet import serialize_chunk_files, upsert_chunks

COLS = ["msg_key", "channel_name", "msg_date", "snippet_no", "content"]


SCHEMA = (
    "msg_key string, channel_name string, msg_date string, "
    "snippet_no bigint, content string"
)


KEY_SCHEMA = "msg_key string, channel_name string, msg_date string"


def _chunks(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path).select(*COLS).collect()
    )


def test_initial_write_and_rerun_idempotent(spark, tmp_path):
    path = str(tmp_path / "chunks")
    batch = _chunks(
        spark,
        [
            ("C1_1.0", "general", "20250101", 1, "a"),
            ("C1_1.0", "general", "20250101", 2, "b"),
            ("C1_2.0", "general", "20250102", 1, "c"),
        ],
    )
    upsert_chunks(spark, path, batch)
    first = _snapshot(spark, path)
    assert len(first) == 3
    # replaying the identical batch (at-least-once delivery) is a no-op
    upsert_chunks(spark, path, batch)
    assert _snapshot(spark, path) == first


def test_update_replaces_only_reprocessed_key(spark, tmp_path):
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "old-a"),
                ("C1_1.0", "general", "20250101", 2, "old-b"),
                ("C1_2.0", "general", "20250101", 1, "keep"),
                ("C2_9.0", "random", "20250103", 1, "other-part"),
            ],
        ),
    )
    # reprocess C1_1.0: now only ONE chunk (the second was edited away)
    upsert_chunks(
        spark, path, _chunks(spark, [("C1_1.0", "general", "20250101", 1, "new-a")])
    )
    got = _snapshot(spark, path)
    assert got == sorted(
        [
            ("C1_1.0", "general", "20250101", 1, "new-a"),
            ("C1_2.0", "general", "20250101", 1, "keep"),
            ("C2_9.0", "random", "20250103", 1, "other-part"),
        ]
    )


def test_tag_removal_tombstone(spark, tmp_path):
    # K2: the delete runs even when the new text has no #KNOWLEDGE -> the
    # reprocessed key (with its partition) is passed explicitly with ZERO
    # new rows.
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "stale"),
                ("C1_2.0", "general", "20250101", 1, "keep"),
            ],
        ),
    )
    empty = _chunks(spark, [])
    keys = spark.createDataFrame([("C1_1.0", "general", "20250101")], KEY_SCHEMA)
    upsert_chunks(spark, path, empty, reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("C1_2.0", "general", "20250101", 1, "keep")]


def test_tombstone_can_empty_a_partition(spark, tmp_path):
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "only-row-in-part"),
                ("C2_2.0", "random", "20250102", 1, "keep"),
            ],
        ),
    )
    empty = _chunks(spark, [])
    keys = spark.createDataFrame([("C1_1.0", "general", "20250101")], KEY_SCHEMA)
    upsert_chunks(spark, path, empty, reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("C2_2.0", "random", "20250102", 1, "keep")]


def test_serialize_chunk_files_format(spark):
    df = spark.createDataFrame(
        [("k1", "Channel Name: g\nMessage Author: A", " body text ")],
        ["chunk_key", "header", "content"],
    )
    r = serialize_chunk_files(df).collect()[0]
    # Byte-exact reference format (KnowledgeBot.py:408-419): each header
    # line ends with \n, then the f.write("\n---\n\n") separator
    assert r.value == "Channel Name: g\nMessage Author: A\n\n---\n\nbody text"


def test_checkpoint_default_missing_and_corrupt(tmp_path):
    state_dir = str(tmp_path / "state")
    assert load_state(state_dir) == {"last_run_timestamp": 0}
    # corrupt file -> default (KnowledgeBot.py:145-155)
    os.makedirs(state_dir, exist_ok=True)
    with open(f"{state_dir}/state.json", "w") as fh:
        fh.write("{not json")
    assert load_state(state_dir) == {"last_run_timestamp": 0}


def test_checkpoint_prescan_stamp(tmp_path):
    # K5: the committed stamp is the PRE-scan time (KnowledgeBot.py:110),
    # not the commit time — mid-run arrivals are re-examined next run.
    state_dir = str(tmp_path / "state")
    run1 = IncrementalRun(state_dir, now_micros=1000)
    assert run1.checkpoint_micros == 0
    run1.commit()
    run2 = IncrementalRun(state_dir, now_micros=2000)
    assert run2.checkpoint_micros == 1000
    # uncommitted run leaves state untouched
    run3 = IncrementalRun(state_dir, now_micros=3000)
    assert load_state(state_dir)["last_run_timestamp"] == 1000
    del run3
    run2.commit()
    assert load_state(state_dir)["last_run_timestamp"] == 2000


def test_tombstone_escaped_partition_value(spark, tmp_path):
    # Hive-escaped partition dirs: a channel name containing ':' '/' '%'
    # is written by Spark as %XX-escaped; the emptied-partition rewrite
    # must address the SAME directory (reviewer scenario: unescaped path
    # created a bogus leaf while stale rows resurfaced).
    path = str(tmp_path / "chunks")
    weird = "a:b/c%d"
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("K1", weird, "20250101", 1, "stale"),
                ("K2", "normal", "20250101", 1, "keep"),
            ],
        ),
    )
    assert _snapshot(spark, path) == sorted(
        [("K1", weird, "20250101", 1, "stale"), ("K2", "normal", "20250101", 1, "keep")]
    )
    # tombstone the only row of the weird partition
    keys = spark.createDataFrame([("K1", weird, "20250101")], KEY_SCHEMA)
    upsert_chunks(spark, path, _chunks(spark, []), reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("K2", "normal", "20250101", 1, "keep")]


def test_keyed_sink_reads_prune_partitions(spark, tmp_path):
    """A channel/date predicate over the keyed table must prune at the
    DIRECTORY level (PartitionFilters on the scan), never by reading all
    partitions and filtering rows — the property that makes per-channel
    incremental reads O(channel) instead of O(corpus) at 100 TB."""
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("m1", "general", "20240101", 0, "a"),
                ("m2", "random", "20240102", 0, "b"),
            ],
        ),
        key_col="msg_key",
        partition_cols=("channel_name", "msg_date"),
    )
    df = spark.read.parquet(path).filter(F.col("channel_name") == "general")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "channel_name" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_tombstone_bool_and_null_partition_values(spark, tmp_path):
    """Partition canonicalization must agree with Spark's directory
    rendering for NON-string partition types: boolean renders 'true' (not
    Python's 'True') and null renders __HIVE_DEFAULT_PARTITION__.  A fully
    tombstoned bool- or null-valued partition must be emptied — with the
    old Python-str canonicalization the bool partition compared as 'True'
    and never matched, leaving stale files behind (ADVICE r6 #1)."""
    schema = "msg_key string, flagged boolean, region string, content string"
    path = str(tmp_path / "boolpart")
    batch = spark.createDataFrame(
        [
            ("K1", True, "eu", "doomed-true-part"),
            ("K2", False, None, "doomed-null-part"),
            ("K3", False, "us", "keep"),
        ],
        schema,
    )
    upsert_chunks(
        spark, path, batch, key_col="msg_key",
        partition_cols=("flagged", "region"),
    )
    # tombstone K1 and K2 with zero replacement rows: their partitions
    # (flagged=true/region=eu and flagged=false/region=null) become empty
    keys = spark.createDataFrame(
        [("K1", True, "eu"), ("K2", False, None)],
        "msg_key string, flagged boolean, region string",
    )
    upsert_chunks(
        spark, path, spark.createDataFrame([], schema),
        reprocessed_keys=keys, key_col="msg_key",
        partition_cols=("flagged", "region"),
    )
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("msg_key", "flagged", "region", "content")
        .collect()
    )
    # partition values read back as directory-name strings (partition
    # type inference is pinned off session-wide)
    assert rows == [("K3", "false", "us", "keep")]


def test_failed_read_of_existing_table_raises_and_keeps_rows(
    spark, tmp_path, monkeypatch
):
    """A read error on an existing table must propagate: taking a
    transient failure for "no rows yet" would overwrite the affected
    partitions with the new rows alone and lose their other keys."""
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "chunks")
    before = [
        ("C1_1.0", "general", "20250101", 1, "a"),
        ("C2_2.0", "random", "20250102", 1, "b"),
    ]
    upsert_chunks(spark, path, _chunks(spark, before))
    assert _snapshot(spark, path) == sorted(before)

    orig = DataFrameReader.parquet
    calls = []

    def flaky_parquet(self, *paths, **options):
        calls.append(paths)
        if len(calls) == 1:
            raise OSError("injected transient read failure")
        return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky_parquet)
    batch = _chunks(spark, [("C1_1.0", "general", "20250101", 1, "new-a")])
    with pytest.raises(OSError, match="injected"):
        upsert_chunks(spark, path, batch)
    monkeypatch.undo()
    assert calls, "the fault was never injected"
    assert _snapshot(spark, path) == sorted(before)


def test_staging_leftovers_take_first_write_branch(spark, tmp_path):
    """A directory holding only a crashed write's leftovers (``_``- and
    ``.``-prefixed staging entries, no committed data file) is treated the
    way Spark's own listing sees it, as empty: the merge finds no affected
    partition present, reads nothing and writes the new rows."""
    path = tmp_path / "chunks"
    (path / "_temporary" / "0").mkdir(parents=True)
    (path / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"partial")
    (path / ".spark-staging-1").mkdir()
    (path / ".part-00000.parquet.crc").write_bytes(b"")
    assert os.listdir(path)
    rows = [("C1_1.0", "general", "20250101", 1, "a")]
    upsert_chunks(spark, str(path), _chunks(spark, rows))
    assert _snapshot(spark, str(path)) == rows


def _data_files(path):
    """Partition directory -> number of parquet data files in it."""
    out = {}
    for root, _dirs, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            out[os.path.relpath(root, path)] = n
    return out


def test_upsert_writes_one_file_per_affected_partition(spark, tmp_path):
    """Each write lands one file per partition it touches, however many
    tasks produced the rows — the merge branch rewrites an affected
    partition from its survivors AND the new rows, which come from
    different scans."""
    path = str(tmp_path / "chunks")
    first = [(f"C1_{i}.0", "general", "20250101", 1, f"a{i}") for i in range(6)]
    first += [(f"C2_{i}.0", "random", "20250102", 1, f"b{i}") for i in range(6)]
    first += [("C3_1.0", "cold", "20250103", 1, "cold")]
    upsert_chunks(spark, path, _chunks(spark, first).repartition(4))
    assert set(_data_files(path).values()) == {1}

    cold_dir = "channel_name=cold/msg_date=20250103"
    cold_before = sorted(os.listdir(os.path.join(path, cold_dir)))
    batch = [
        ("C1_0.0", "general", "20250101", 1, "new-a0"),
        ("C1_9.0", "general", "20250101", 1, "added"),
        ("C2_0.0", "random", "20250102", 1, "new-b0"),
        ("C4_1.0", "fresh", "20250104", 1, "new-partition"),
    ]
    upsert_chunks(spark, path, _chunks(spark, batch).repartition(4))
    assert _data_files(path) == {
        "channel_name=general/msg_date=20250101": 1,
        "channel_name=random/msg_date=20250102": 1,
        "channel_name=fresh/msg_date=20250104": 1,
        cold_dir: 1,
    }
    assert sorted(os.listdir(os.path.join(path, cold_dir))) == cold_before
    want = {r[0]: r for r in first}
    want.update({r[0]: r for r in batch})
    assert _snapshot(spark, path) == sorted(want.values())


def test_partition_keyed_upsert_reads_no_unaffected_partition(spark, tmp_path, rows_read):
    """Whether the targets come from a key frame that names each key's
    partition or from the new rows themselves, the upsert reads only the
    affected partition: the 1000 rows of a cold partition are never
    scanned to look keys up."""
    path = str(tmp_path / "chunks")
    cold = [(f"C9_{i}.0", "cold", "20240101", 1, "x") for i in range(1000)]
    hot = [
        ("C1_1.0", "general", "20250101", 1, "old"),
        ("C1_2.0", "general", "20250101", 1, "keep"),
    ]
    upsert_chunks(spark, path, _chunks(spark, cold + hot))

    batch = _chunks(spark, [("C1_1.0", "general", "20250101", 1, "new")])
    keys = spark.createDataFrame(
        [("C1_1.0", "general", "20250101")],
        "msg_key string, channel_name string, msg_date string",
    )
    read = rows_read(
        "keyed-upsert-read-audit",
        lambda: upsert_chunks(spark, path, batch, reprocessed_keys=keys),
    )
    assert read <= len(hot), f"read {read} rows; the affected partition holds {len(hot)}"
    assert _snapshot(spark, path) == sorted(
        cold + [("C1_1.0", "general", "20250101", 1, "new"), hot[1]]
    )

    # reprocessed_keys=None: the targets are the (key, partition) pairs of
    # the new rows
    batch = _chunks(spark, [("C1_2.0", "general", "20250101", 1, "new-2")])
    read = rows_read(
        "keyed-upsert-read-audit-default",
        lambda: upsert_chunks(spark, path, batch),
    )
    assert read <= len(hot), f"read {read} rows; the affected partition holds {len(hot)}"
    assert _snapshot(spark, path) == sorted(
        cold
        + [
            ("C1_1.0", "general", "20250101", 1, "new"),
            ("C1_2.0", "general", "20250101", 1, "new-2"),
        ]
    )


def test_partition_keyed_tombstone_can_empty_a_partition(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "only-row-in-part"),
                ("C2_2.0", "random", "20250102", 1, "keep"),
            ],
        ),
    )
    keys = spark.createDataFrame(
        [("C1_1.0", "general", "20250101")],
        "msg_key string, channel_name string, msg_date string",
    )
    # every parquet write below the table root (the emptied partition's
    # rewrite) runs in a job group of its own
    sc = spark.sparkContext
    group = "keyed-empty-partition-rewrite"
    write = DataFrameWriter.parquet

    def grouped_write(self, target, *args, **kwargs):
        if target == path:
            return write(self, target, *args, **kwargs)
        sc.setJobGroup(group, group)
        try:
            return write(self, target, *args, **kwargs)
        finally:
            sc.setJobGroup(None, None)

    monkeypatch.setattr(DataFrameWriter, "parquet", grouped_write)
    upsert_chunks(spark, path, _chunks(spark, []), reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("C2_2.0", "random", "20250102", 1, "keep")]
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs, "the emptied partition was not rewritten"
    tasks = sum(
        tracker.getStageInfo(stage).numTasks
        for job in jobs
        for stage in tracker.getJobInfo(job).stageIds
    )
    assert tasks <= 1, f"rewriting an empty partition ran {tasks} tasks"


def _query_jobs(spark) -> set[int]:
    """Ids of the jobs that ran inside a SQL query execution."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    jobs = set()
    for i in range(executions.size()):
        ids = executions.apply(i).jobs().keysIterator()
        while ids.hasNext():
            jobs.add(int(str(ids.next())))
    return jobs


def test_partition_keyed_upsert_lists_only_affected_partitions(spark, tmp_path, rows_read):
    """On a table of 40 partition directories, an upsert reads the affected
    directory alone, whether its key frame names the partitions or it
    takes them from the new rows: no file-listing job (Spark lists more
    than 32 directories in a parallel job) and no row of an unaffected
    partition.  It reads the stored rows with the schema of the new rows,
    so no schema-inference job reads their parquet footers: every job of
    the upsert runs inside a query execution, which that job does not."""
    path = str(tmp_path / "chunks")
    rows = [
        (f"C{c}_{i}.0", f"chan{c:02d}", "20250101", 1, "x")
        for c in range(40)
        for i in range(3)
    ]
    upsert_chunks(spark, path, _chunks(spark, rows))
    assert len(os.listdir(path)) >= 40

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    want = {r[0]: r for r in rows}
    keys = spark.createDataFrame(
        [("C0_1.0", "chan00", "20250101")],
        "msg_key string, channel_name string, msg_date string",
    )
    for key, reprocessed_keys in (("C0_1.0", keys), ("C0_2.0", None)):
        new = (key, "chan00", "20250101", 1, "new")
        batch = _chunks(spark, [new])
        group = f"keyed-upsert-listing-audit-{key}"
        read = rows_read(
            group,
            lambda: upsert_chunks(
                spark, path, batch, reprocessed_keys=reprocessed_keys
            ),
        )
        listings = [
            job
            for job in sc.statusTracker().getJobIdsForGroup(group)
            if "Listing leaf files" in str(store.job(job).description())
        ]
        assert not listings, f"the upsert ran {len(listings)} file-listing job(s)"
        in_query = _query_jobs(spark)
        outside = [
            str(store.job(job).name())
            for job in sc.statusTracker().getJobIdsForGroup(group)
            if job not in in_query
        ]
        assert not outside, f"the upsert ran jobs outside a query: {outside}"
        assert read <= 3, f"read {read} rows; the affected partition holds 3"
        want[key] = new
        assert _snapshot(spark, path) == sorted(want.values())


def test_delete_is_scoped_to_the_target_partition(spark, tmp_path):
    """A key's stored rows are deleted only in the partitions its targets
    name, as the reference deletes a message's chunk files by their
    ``(channel, date, ts)`` name prefix: after a channel rename the new
    row lands in the new partition and the old row stays.  Targets must
    name their partition, so a key-only frame is refused."""
    path = str(tmp_path / "chunks")
    old = ("C1_1.0", "general", "20250101", 1, "before-rename")
    upsert_chunks(spark, path, _chunks(spark, [old]))

    new = ("C1_1.0", "renamed", "20250101", 1, "after-rename")
    upsert_chunks(spark, path, _chunks(spark, [new]))
    assert _snapshot(spark, path) == sorted([old, new])

    keys = spark.createDataFrame([("C1_1.0",)], ["msg_key"])
    with pytest.raises(AnalysisException, match="channel_name"):
        upsert_chunks(spark, path, _chunks(spark, []), reprocessed_keys=keys)
    assert _snapshot(spark, path) == sorted([old, new])

    # the same holds when another key of the batch targets the old
    # partition: each key is deleted only from its own target partition
    path = str(tmp_path / "chunks2")
    other = ("C1_2.0", "general", "20250101", 1, "j-before")
    upsert_chunks(spark, path, _chunks(spark, [old, other]))
    other_new = ("C1_2.0", "general", "20250101", 1, "j-after")
    upsert_chunks(spark, path, _chunks(spark, [new, other_new]))
    assert _snapshot(spark, path) == sorted([old, new, other_new])


def test_crash_before_the_emptied_partition_rewrite_heals_on_rerun(
    spark, tmp_path, monkeypatch
):
    """A crash between the dynamic overwrite and the emptied-partition
    rewrite leaves the tombstoned key's partition as it was; re-running
    the same upsert reaches the table of an uninterrupted one."""
    path = str(tmp_path / "chunks")
    upsert_chunks(
        spark,
        path,
        _chunks(
            spark,
            [
                ("C1_1.0", "general", "20250101", 1, "only-row-in-part"),
                ("C2_2.0", "random", "20250102", 1, "old"),
            ],
        ),
    )
    keys = spark.createDataFrame(
        [("C1_1.0", "general", "20250101"), ("C2_2.0", "random", "20250102")],
        KEY_SCHEMA,
    )
    batch = _chunks(spark, [("C2_2.0", "random", "20250102", 1, "new")])
    write = DataFrameWriter.parquet

    def crashing_write(self, target, *args, **kwargs):
        if target != path:  # the emptied partition's rewrite
            raise RuntimeError("injected crash")
        return write(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_write)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_chunks(spark, path, batch, reprocessed_keys=keys)
    # the overwrite committed; the tombstoned partition was not rewritten
    assert _snapshot(spark, path) == [
        ("C1_1.0", "general", "20250101", 1, "only-row-in-part"),
        ("C2_2.0", "random", "20250102", 1, "new"),
    ]

    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    upsert_chunks(spark, path, batch, reprocessed_keys=keys)
    assert _snapshot(spark, path) == [("C2_2.0", "random", "20250102", 1, "new")]


def test_stored_file_lacking_a_column_reads_null(spark, tmp_path):
    """The merge reads stored rows with the schema of the new rows: a
    stored file without one of their columns gives its surviving rows a
    NULL there, and the rewritten partition carries the column."""
    path = str(tmp_path / "chunks")
    spark.createDataFrame(
        [("C1_1.0", "general", "20250101", 1)],
        "msg_key string, channel_name string, msg_date string, snippet_no bigint",
    ).write.partitionBy("channel_name", "msg_date").parquet(path)
    upsert_chunks(
        spark, path, _chunks(spark, [("C1_2.0", "general", "20250101", 1, "new")])
    )
    assert _snapshot(spark, path) == [
        ("C1_1.0", "general", "20250101", 1, None),
        ("C1_2.0", "general", "20250101", 1, "new"),
    ]
