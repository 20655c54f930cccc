"""Compaction + MERGE operator tests (the maintenance half of the keyed
sink contract, and the relational MERGE semantics it must preserve)."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledgebot_spark.operators.merge import merge_upsert
from knowledgebot_spark.sinks.compaction import (
    compact_keyed_table,
    partition_file_counts,
)
from knowledgebot_spark.sinks.keyed_parquet import upsert_chunks

SCHEMA = (
    "msg_key string, channel_name string, msg_date string, "
    "snippet_no bigint, content string"
)
COLS = ["msg_key", "channel_name", "msg_date", "snippet_no", "content"]


def _chunks(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).select(*COLS).collect()
    )


def _fragment(spark, path):
    """Three partitioned appends to the same two partitions -> multiple
    files per partition (each append adds its own files; the keyed sink's
    dynamic overwrite would replace them instead)."""
    for i in range(3):
        (
            _chunks(
                spark,
                [
                    (f"C1_{i}.0", "general", "20250101", 1, f"a{i}"),
                    (f"C2_{i}.0", "rand/om", "20250102", 1, f"b{i}"),
                ],
            )
            .write.mode("append")
            .partitionBy("channel_name", "msg_date")
            .parquet(path)
        )


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "chunks")
    _fragment(spark, path)
    before = _snapshot(spark, path)
    counts = partition_file_counts(path)
    # escaped partition dir (rand%2Fom) must decode back to the real value
    assert ("rand/om", "20250102") in counts
    assert any(n > 1 for n in counts.values()), "fixture failed to fragment"

    n = compact_keyed_table(spark, path)
    assert n == sum(1 for c in counts.values() if c > 1)
    after_counts = partition_file_counts(path)
    assert all(n == 1 for n in after_counts.values())
    assert _snapshot(spark, path) == before


def test_compaction_noop_when_compact(spark, tmp_path):
    path = str(tmp_path / "chunks")
    _fragment(spark, path)
    compact_keyed_table(spark, path)
    before = _snapshot(spark, path)
    assert compact_keyed_table(spark, path) == 0
    assert _snapshot(spark, path) == before


def test_compaction_leaves_cold_partitions_untouched(spark, tmp_path):
    import os

    path = str(tmp_path / "chunks")
    _fragment(spark, path)
    # find a file in the single-file partition (if any) vs fragmented ones
    counts = partition_file_counts(path)
    fragmented = {v for v, n in counts.items() if n > 1}
    cold = {v for v, n in counts.items() if n == 1}
    if not cold:
        # make one: a fresh partition written once
        upsert_chunks(
            spark,
            path,
            _chunks(spark, [("C9_1.0", "coldchan", "20250109", 1, "cold")]),
        )
        cold = {("coldchan", "20250109")}
    cold_dirs = [
        os.path.join(
            path,
            f"channel_name={v[0]}",
            f"msg_date={v[1]}",
        )
        for v in cold
        if "/" not in v[0]
    ]
    mtimes = {
        d: sorted(os.listdir(d)) for d in cold_dirs if os.path.isdir(d)
    }
    compact_keyed_table(spark, path)
    for d, listing in mtimes.items():
        assert sorted(os.listdir(d)) == listing, "cold partition was rewritten"
    assert fragmented  # sanity: the test exercised a real compaction


def test_compaction_rewrites_fragmented_null_partition(spark, tmp_path):
    """A null partition value lives in Spark's __HIVE_DEFAULT_PARTITION__
    directory; compaction must select it null-safely, or it reports the
    partition compacted while leaving every file in place."""
    path = str(tmp_path / "chunks")
    for i in range(3):
        (
            _chunks(
                spark,
                [
                    (f"N_{i}.0", None, "20250101", 1, f"n{i}"),
                    (f"G_{i}.0", "gen", "20250101", 1, f"g{i}"),
                ],
            )
            .write.mode("append")
            .partitionBy("channel_name", "msg_date")
            .parquet(path)
        )
    before = _snapshot(spark, path)
    counts = partition_file_counts(path)
    assert len(counts) == 2 and all(n > 1 for n in counts.values()), (
        "fixture failed to fragment"
    )

    assert compact_keyed_table(spark, path) == 2
    assert partition_file_counts(path) == {
        (None, "20250101"): 1,
        ("gen", "20250101"): 1,
    }
    assert _snapshot(spark, path) == before


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k bigint, v string, x double",
    )
    source = spark.createDataFrame(
        [
            (2, "B", 200.0, False),   # matched -> update
            (3, "c", 30.0, True),     # matched + delete -> drop
            (4, "d", 40.0, False),    # not matched -> insert
            (5, "e", 50.0, True),     # not matched + delete -> no-op
        ],
        "k bigint, v string, x double, is_delete boolean",
    )
    out = merge_upsert(target, source, keys=["k"], delete_col="is_delete")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, "a", 10.0), (2, "B", 200.0), (4, "d", 40.0)]
    # equi-join only: no nested-loop/cartesian physical join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_without_delete_col(spark):
    target = spark.createDataFrame([(1, "a")], "k bigint, v string")
    source = spark.createDataFrame([(1, "A"), (2, "b")], "k bigint, v string")
    out = merge_upsert(target, source, keys=["k"])
    assert sorted(tuple(r) for r in out.collect()) == [(1, "A"), (2, "b")]


# --- property-based: MERGE and binned range join vs direct formulations ------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEYS = st.integers(0, 12)


@settings(max_examples=15, deadline=None)
@given(
    tgt=st.lists(_KEYS, min_size=0, max_size=8, unique=True),
    src=st.lists(
        st.tuples(_KEYS, st.booleans()),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_property(spark, tgt, src):
    """merge_upsert == the set-algebra reference model for any disjoint
    key sets: (target - src_keys) + (src rows not deleted)."""
    target = spark.createDataFrame(
        [(k, f"t{k}") for k in tgt], "k bigint, v string"
    )
    source = spark.createDataFrame(
        [(k, f"s{k}", d) for k, d in src], "k bigint, v string, is_delete boolean"
    )
    got = sorted(
        tuple(r)
        for r in merge_upsert(
            target, source, keys=["k"], delete_col="is_delete"
        ).collect()
    )
    src_keys = {k for k, _ in src}
    want = sorted(
        [(k, f"t{k}") for k in tgt if k not in src_keys]
        + [(k, f"s{k}") for k, d in src if not d]
    )
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    points=st.lists(
        st.floats(-50, 50, allow_nan=False, width=32), min_size=0, max_size=10
    ),
    intervals=st.lists(
        st.tuples(
            st.floats(-50, 50, allow_nan=False, width=32),
            st.floats(0, 40, allow_nan=False, width=32),
        ),
        min_size=0,
        max_size=6,
    ),
    width=st.sampled_from([1.0, 7.5, 100.0]),
)
def test_binned_interval_join_property(spark, points, intervals, width):
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators.rangejoin import bin_interval_join

    p = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(points)], "pid bigint, v double"
    )
    i_ = spark.createDataFrame(
        [(j, float(lo), float(lo + ln)) for j, (lo, ln) in enumerate(intervals)],
        "iid bigint, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in bin_interval_join(p, i_, "v", "lo", "hi", bin_width=width).collect()
    )
    want = sorted(
        (r.pid, r.iid)
        for r in p.join(
            i_, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).collect()
    )
    assert got == want
