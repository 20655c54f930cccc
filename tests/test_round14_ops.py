"""Round-14 regression tests.

The round-13 driver run crashed stream_neardup_gate_ooo on a session the
engine did not build: ``micro_batch_confs.__exit__`` fed the recorded
``None`` (the unset ``spark.sql.files.minPartitionNum``) back to
``conf.set`` -> IllegalArgumentException, and the aborted restore loop
leaked minPartitionNum=1 / adaptive.enabled=false into the shared session
for every later query (CORRECTNESS_r13, VERDICT r13 item 1).  The engine's
own ``get_session`` always sets that conf, which is exactly why the
builder's gate never saw it — so these tests deliberately avoid the
``spark`` fixture where the bug hides.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from knowledgebot_spark.streaming import pipeline as sp

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("KB_TEST_SF_DIR", "/root/testdata/sf0.001")


class _FakeConf:
    """Stand-in for spark.conf with the real API's None semantics:
    set(key, None) raises, get(key, default) honours the default,
    unset(key) removes the entry."""

    def __init__(self, initial=None, poison=()):
        self.values = dict(initial or {})
        self.poison = set(poison)  # keys whose set/unset always throw

    def get(self, key, default="\x00NO_DEFAULT"):
        if key in self.values:
            return self.values[key]
        if default != "\x00NO_DEFAULT":
            return default
        raise Exception(f"no default for {key}")

    def set(self, key, value):
        if value is None:
            raise ValueError(f"value cannot be null for key: {key}")
        if key in self.poison:
            raise RuntimeError(f"poisoned: {key}")
        self.values[key] = value

    def unset(self, key):
        if key in self.poison:
            raise RuntimeError(f"poisoned: {key}")
        self.values.pop(key, None)


class _FakeSpark:
    def __init__(self, conf):
        self.conf = conf


def test_micro_batch_confs_restores_unset_conf_by_unsetting():
    # A session that never set minPartitionNum (any non-engine session):
    # exit must UNSET it, not call set(None).
    conf = _FakeConf({"spark.sql.shuffle.partitions": "200",
                      "spark.sql.adaptive.enabled": "true"})
    with sp.micro_batch_confs(_FakeSpark(conf)):
        assert conf.values["spark.sql.files.minPartitionNum"] == "1"
        assert conf.values["spark.sql.shuffle.partitions"] == "8"
        assert conf.values["spark.sql.adaptive.enabled"] == "false"
    assert "spark.sql.files.minPartitionNum" not in conf.values
    assert conf.values["spark.sql.shuffle.partitions"] == "200"
    assert conf.values["spark.sql.adaptive.enabled"] == "true"


def test_micro_batch_confs_restore_is_per_key_fault_isolated():
    # One failing restore must not strand the remaining keys (the r13
    # blast radius: AQE=false leaked into 49 later queries).
    conf = _FakeConf({"spark.sql.shuffle.partitions": "200",
                      "spark.sql.files.minPartitionNum": "32",
                      "spark.sql.adaptive.enabled": "true"})
    scope = sp.micro_batch_confs(_FakeSpark(conf))
    scope.__enter__()
    conf.poison.add("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="poisoned"):
        scope.__exit__(None, None, None)
    # the other two keys were still restored
    assert conf.values["spark.sql.files.minPartitionNum"] == "32"
    assert conf.values["spark.sql.adaptive.enabled"] == "true"


def test_micro_batch_confs_enter_rolls_back_on_partial_failure():
    # If applying the second key throws, the first must be restored
    # before the exception propagates.
    conf = _FakeConf({"spark.sql.shuffle.partitions": "200"},
                     poison={"spark.sql.files.minPartitionNum"})
    with pytest.raises(RuntimeError, match="poisoned"):
        sp.micro_batch_confs(
            _FakeSpark(conf),
            keys=("spark.sql.shuffle.partitions",
                  "spark.sql.files.minPartitionNum"),
        ).__enter__()
    assert conf.values["spark.sql.shuffle.partitions"] == "200"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_gate_ooo_runs_on_bare_session():
    """End-to-end on a SparkSession built WITHOUT session.py — the exact
    driver shape that crashed in CORRECTNESS_r13.  Runs in a subprocess
    because a second SparkContext cannot coexist with the fixture's."""
    script = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]").appName("bare-r14")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.files.minPartitionNum", None) is None
from knowledgebot_spark.registry import queries
df = queries()["stream_neardup_gate_ooo"](spark, {sf!r})
n = df.count()
assert n > 0, n
# scoped confs must be fully restored on the bare session
assert spark.conf.get("spark.sql.files.minPartitionNum", None) is None
assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
print("BARE_SESSION_OK", n)
""".format(repo=REPO, sf=SF_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600,
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "BARE_SESSION_OK" in proc.stdout


def test_cc_lazy_checkpoint_one_job_per_round(spark, monkeypatch):
    """VERDICT r13 #3: the per-round lazy localCheckpoint claim is that the
    convergence checksum materializes the checkpoint, so each CC round runs
    ONE driver job instead of two.  Prove it with statusTracker job counts
    on a star-shaped input that converges in exactly one round: the
    committed (lazy) implementation must run 2 jobs total (initial
    checksum + one round's checksum), and the same loop with eager
    checkpoints must run 4 (each round pays a separate materialization
    job).  AQE and auto-broadcast are disabled inside the test because
    both split one action into several tracked jobs nondeterministically.
    """
    # patch the CONCRETE class: Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, whose own localCheckpoint
    # shadows anything set on the abstract pyspark.sql.DataFrame
    from pyspark.sql.classic.dataframe import DataFrame

    from knowledgebot_spark.operators.dedup import alternating_star_components

    sc = spark.sparkContext
    # (1,2),(1,3),(5,6) is already a star forest == the fixpoint of
    # small(large(.)), so round 1 reproduces the canon set and the loop
    # stops at the first checksum comparison
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (5, 6)], "id_a BIGINT, id_b BIGINT"
    )
    scoped = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in scoped}

    def _count_jobs(group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            alternating_star_components(edges)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        lazy_jobs = _count_jobs("cc-lazy-job-audit")

        orig = DataFrame.localCheckpoint

        def eager_ckpt(self, eager=True, storageLevel=None):
            return orig(self, eager=True, storageLevel=storageLevel)

        monkeypatch.setattr(DataFrame, "localCheckpoint", eager_ckpt)
        eager_jobs = _count_jobs("cc-eager-job-audit")
        monkeypatch.undo()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert lazy_jobs == 2, f"expected 1 job per round + initial, got {lazy_jobs}"
    assert eager_jobs == 4, f"expected 2 jobs per round + initial, got {eager_jobs}"

    # and the result is still the right component labeling
    got = sorted(
        tuple(r) for r in alternating_star_components(edges).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]


def test_hoisted_window_exprs_match_naive_formulation(spark):
    """Round-14: shingle_expr / _gram_expr / chunk_windows re-bind the
    token array through an outer transform(array(...)) lambda so the
    embedded split() evaluates once per row instead of once per window
    position (interpreted HOFs re-evaluate the lambda body per element).
    The rewrite must be value-identical to the naive per-position
    formulation, including the empty / single-token / NULL edge rows."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators.chunker import chunk_windows
    from knowledgebot_spark.operators.dedup import shingle_expr
    from knowledgebot_spark.queries_corpus import _gram_expr

    rows = [
        ("the quick brown fox jumps over the lazy dog",),
        ("one two three",),
        ("one two",),   # shorter than the window
        ("solo",),
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "text STRING")

    def naive(n: int) -> str:
        toks = "split(lower(text), ' ')"
        return (
            f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
            f"i -> array_join(slice({toks}, i, {n}), ' '))"
        )

    for n, expr in ((3, shingle_expr("text", distinct=False)),
                    (7, _gram_expr("text", 7, distinct=False))):
        got = [r.s for r in df.selectExpr(f"{expr} AS s").collect()]
        ref = [r.s for r in df.selectExpr(f"{naive(n)} AS s").collect()]
        assert got == ref, f"n={n}: {got} != {ref}"

    naive_windows = (
        "transform(sequence(1, size(split(text, ' ')), 15), "
        "s -> array_join(slice(split(text, ' '), s, 20), ' '))"
    )
    got = chunk_windows(df.filter("text IS NOT NULL")).select(
        "chunk_pos", "chunk_text"
    ).collect()
    ref = (
        df.filter("text IS NOT NULL")
        .withColumn("w", F.expr(naive_windows))
        .select(F.posexplode("w").alias("chunk_pos", "chunk_text"))
        .collect()
    )
    assert got == ref
