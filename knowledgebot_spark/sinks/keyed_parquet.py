"""Keyed idempotent parquet sink (SURVEY.md §2.1 K1/K2/K6, §4 O7).

Re-expresses the reference's delete-then-rewrite file sink
(``_delete_knowledge_chunks`` KnowledgeBot.py:351-379 + write call site
:483-485,526) as a partition-local MERGE over a parquet table:

  1. delete every existing row whose ``msg_key`` is being reprocessed —
     **even when the new batch has zero rows for that key** (tag removal
     deletes stale chunks: the reference deletes at :485 *before* the
     `#KNOWLEDGE` filter at :493);
  2. append the new rows.

Targets.  Every upsert works from the ``(key, *partition)`` pairs it
must delete, collected to the driver once.  They are the rows of
``reprocessed_keys``, which must carry the partition columns, or, when
it is ``None``, the ``(key, *partition)`` pairs of ``new_rows``.  No
existing data is read to find them: the merge reads only the affected
partition directories, with the schema of ``new_rows``: no job lists the
table root or reads the parquet footers.

A delete is partition-scoped, as in the reference, whose delete matches
a message's chunk files by their ``(channel, date, ts)`` name prefix
(KnowledgeBot.py:351-379): stored rows of a key in a partition none of
that key's targets name (say, after a channel rename) stay, whatever the
other keys of the batch target.  Every row of ``new_rows`` must also lie
in a partition the targets name, or the overwrite replaces a partition
nobody read.

Write.  The survivors of the affected partitions plus the new rows are
written once, repartitioned by the partition columns (one file per
affected partition), with dynamic partition overwrite: Spark stages the
output and, at commit, swaps in only the partitions present in it.  A
partition whose every row was tombstoned has no row in that output, so
the swap leaves its old files in place; a listing of the affected
directories before and after the write (metadata only) finds those
partitions, and each is rewritten empty.  A fresh path is the same
merge with no affected partition present: nothing is read, and the
overwrite writes every partition of ``new_rows``.  No path overwrites the
whole table.

Scale posture (100 TB): the table is partitioned by
``(channel_name, msg_date)`` and an incremental batch reads and rewrites
only the partitions its keys live in — never the whole table.  The
driver holds one batch's target pairs; ``incremental.upsert_scope`` hands
it a key frame already on the driver (the batch's collected scope rows, message
text included, bounded by the arrival window).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITIONS = ("channel_name", "msg_date")

# Hive escapePathName: these chars (plus ASCII control chars) are %XX-encoded
# in partition directory names — hand-built paths must match or a tombstone
# rewrite targets the wrong directory.
_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^')  # note: '}' is NOT escaped by Spark
# Spark writes null partition values to this sentinel directory.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_PCT = re.compile(r"%([0-9A-F]{2})")


def _escape_partition_value(value) -> str:
    if value is None:
        return _NULL_PARTITION
    out = []
    for ch in str(value):
        if ch in _ESCAPE_CHARS or ord(ch) < 0x20 or ch == "\x7f":
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def _unescape_partition_value(name: str) -> str | None:
    """Inverse of ``_escape_partition_value``: '%' itself is always escaped
    as %25, so the decode is unambiguous; the null sentinel maps back to
    None."""
    if name == _NULL_PARTITION:
        return None
    return _PCT.sub(lambda m: chr(int(m.group(1), 16)), name)


def _partition_predicate(partition_cols: tuple[str, ...], partitions) -> Column:
    """Rows of any of ``partitions`` (tuples of values, one per column).
    Values are compared as STRINGS, null-safely: a table read back surfaces
    partition values as strings (partitionColumnTypeInference is pinned
    off) while a batch carries native types, and Spark's cast agrees with
    its own directory rendering (boolean -> 'true'); a null partition is
    matched by a null value, never by ``==``."""
    pred = F.lit(False)
    for values in partitions:
        clause = F.lit(True)
        for col, val in zip(partition_cols, values):
            clause = clause & F.col(col).cast("string").eqNullSafe(
                F.lit(val).cast("string")
            )
        pred = pred | clause
    return pred


def _hidden(name: str) -> bool:
    """Spark's file listing skips these names: commit markers
    (``_SUCCESS``), staging dirs (``_temporary``, ``.spark-staging-*``)
    and checksums (``.*.crc``) — but not ``_col=value`` partition dirs."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _partition_dir(path: str, partition_cols: tuple[str, ...], values: tuple) -> str:
    """The directory Spark writes a partition to (values Hive-escaped)."""
    return path + "".join(
        f"/{col}={_escape_partition_value(val)}"
        for col, val in zip(partition_cols, values)
    )


def _listing(directory: str) -> frozenset[str]:
    """Names of the data files directly under a partition directory."""
    try:
        return frozenset(n for n in os.listdir(directory) if not _hidden(n))
    except FileNotFoundError:
        return frozenset()


def upsert_chunks(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    reprocessed_keys: DataFrame | None = None,
    key_col: str = "msg_key",
    partition_cols: tuple[str, ...] = DEFAULT_PARTITIONS,
) -> None:
    """Delete-then-append keyed by ``key_col``, partition by partition.

    ``reprocessed_keys`` holds ``key_col`` and ``partition_cols``: every
    ``(key, *partition)`` whose stored rows must be replaced.  Pass it for
    tag-removal tombstones (keys whose new message text produced zero
    rows — K2 semantics); it must then name the partition of every row of
    ``new_rows``.  It defaults to the pairs of ``new_rows``.  A key's
    rows in a partition none of its own targets name are kept.
    Stored rows are read with the schema of ``new_rows``: a column that a
    stored file lacks reads as NULL.
    """
    key_frame = new_rows if reprocessed_keys is None else reprocessed_keys
    # Partition values are canonicalized to STRINGS Spark-side, as a table
    # read back surfaces them (null stays None).  Comparing raw values
    # would make bigint 3 and string '3' different partitions and send
    # every partition down the emptied-rewrite path (kb_vector_upsert's
    # bigint bucket key caught that).
    targets = {
        tuple(r)
        for r in key_frame.select(
            key_col, *[F.col(c).cast("string").alias(c) for c in partition_cols]
        ).collect()
    }
    affected = {t[1:] for t in targets}
    if not affected:
        return

    dirs = [_partition_dir(path, partition_cols, v) for v in affected]
    before = {d: _listing(d) for d in dirs}
    # only the affected partitions that hold files are read; the table
    # root is never listed (past 32 directories that listing is a job)
    present = [d for d, files in before.items() if files]
    out = new_rows
    if present:
        existing = spark.read.schema(new_rows.schema).option("basePath", path).parquet(*present)
        # each key is deleted only from the partition its target names;
        # null keys never match a delete (as in an anti join)
        keys: dict[tuple, list] = {}
        for key, *values in targets:
            if key is not None:
                keys.setdefault(tuple(values), []).append(key)
        deleted = F.lit(False)
        for values, ks in keys.items():
            in_part = _partition_predicate(partition_cols, [values])
            deleted = deleted | (in_part & F.col(key_col).isin(ks))
        survivors = existing.filter(F.col(key_col).isNull() | ~deleted)
        out = survivors.unionByName(new_rows)

    # Dynamic partition overwrite: the job stages its output and, at
    # commit, replaces only the partitions present in `out` (== the
    # affected set); one hash shuffle on the partition columns writes each
    # of them as one file.  `out` reads the files it replaces, so this
    # write is its only execution.
    (
        out.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    # A partition whose every row was tombstoned has no rows in `out`, so
    # the overwrite left its files as they were; rewrite it empty.  The
    # LIMIT 0 frame folds to an empty local relation, so the rewrite runs
    # no Python worker.
    for d, files in before.items():
        if files and _listing(d) == files:
            out.drop(*partition_cols).limit(0).write.mode("overwrite").parquet(d)


def serialize_chunk_files(df: DataFrame) -> DataFrame:
    """K1: the reference's on-disk chunk-file format as (chunk_key, value)
    rows, byte-identical to KnowledgeBot.py:408-419: every header line ends
    with ``\\n``, then ``\\n---\\n\\n``, then the stripped body — so the
    bytes after the last header char are ``\\n\\n---\\n\\n``.  Written with
    ``df.write.text`` when actual .txt interop is needed; the parquet table
    remains the source of truth."""
    return df.select(
        F.col("chunk_key"),
        F.concat(
            F.col("header"), F.lit("\n\n---\n\n"), F.trim(F.col("content"))
        ).alias("value"),
    )


def with_processed_marker(df: DataFrame, run_id: str) -> DataFrame:
    """K6: the reference's mortar-board reaction becomes a status column —
    idempotent because re-running a key overwrites the same marker."""
    return df.withColumn("processed_run", F.lit(run_id))
