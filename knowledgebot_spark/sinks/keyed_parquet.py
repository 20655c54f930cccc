"""Keyed idempotent parquet sink (SURVEY.md §2.1 K1/K2/K6, §4 O7).

Re-expresses the reference's delete-then-rewrite file sink
(``_delete_knowledge_chunks`` KnowledgeBot.py:351-379 + write call site
:483-485,526) as a partition-local MERGE over a parquet table:

  1. delete every existing row whose ``msg_key`` is being reprocessed —
     **even when the new batch has zero rows for that key** (tag removal
     deletes stale chunks: the reference deletes at :485 *before* the
     `#KNOWLEDGE` filter at :493);
  2. append the new rows.

Scale posture (100 TB): the table is partitioned by
``(channel_name, msg_date)``; an incremental batch touches only the
partitions its keys live in, so the rewrite reads + rewrites just those
partitions via dynamic partition overwrite — never the whole table.  The
reprocessed keys of one batch are small (one run's messages), so the
anti-join against existing rows broadcasts the key set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITIONS = ("channel_name", "msg_date")

# Hive escapePathName: these chars (plus ASCII control chars) are %XX-encoded
# in partition directory names — hand-built paths must match or a tombstone
# rewrite targets the wrong directory.
_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^')  # note: '}' is NOT escaped by Spark


def _escape_partition_value(value) -> str:
    if value is None:
        # Spark writes null partition values to this sentinel directory.
        return "__HIVE_DEFAULT_PARTITION__"
    out = []
    for ch in str(value):
        if ch in _ESCAPE_CHARS or ord(ch) < 0x20 or ch == "\x7f":
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def _hidden(name: str) -> bool:
    """Spark's file listing skips these names: commit markers
    (``_SUCCESS``), staging dirs (``_temporary``, ``.spark-staging-*``)
    and checksums (``.*.crc``) — but not ``_col=value`` partition dirs."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _has_data_files(path: str) -> bool:
    """True when ``path`` holds a committed data file, i.e. one Spark's
    listing would read.  A missing path, an empty directory or one left
    with only a crashed write's staging files holds none."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        if any(not _hidden(f) for f in files):
            return True
    return False


def upsert_chunks(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    reprocessed_keys: DataFrame | None = None,
    key_col: str = "msg_key",
    partition_cols: tuple[str, ...] = DEFAULT_PARTITIONS,
) -> None:
    """Delete-then-append keyed by ``key_col``.

    ``reprocessed_keys`` is a one-column (key_col) DataFrame of every key
    whose chunks must be replaced; defaults to the keys present in
    ``new_rows``.  Pass it explicitly for tag-removal tombstones (keys whose
    new message text produced zero chunks — K2 semantics).
    """
    if reprocessed_keys is None:
        reprocessed_keys = new_rows.select(key_col).distinct()

    # first write only when nothing is committed yet; an existing table
    # is read below, and a failed read raises instead of being mistaken
    # for "no table" and overwritten
    if not _has_data_files(path):
        (
            new_rows.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
        return

    existing = spark.read.parquet(path)
    # the batch lineage is referenced several times below (partition-set
    # collect + write); pin it so the upstream DAG runs once
    new_rows = new_rows.persist()

    # Partition pruning: only partitions containing a reprocessed key are
    # rewritten.  The affected-partition set of one incremental batch is
    # small, so collecting it to build a pruning predicate is driver-cheap
    # (it is partition *metadata*, not data rows).
    # Partition values are canonicalized to STRINGS on both sides of every
    # membership comparison: the read-back side surfaces them as strings
    # (partitionColumnTypeInference is pinned off), while a new batch
    # carries native types — comparing raw tuples would make e.g. bigint
    # (3,) from the batch and string ('3',) from disk look like DIFFERENT
    # partitions, sending every existing partition down the emptied-rewrite
    # path and wiping the table (caught by kb_vector_upsert's bigint
    # bucket key; directory names are strings anyway).  The cast happens
    # SPARK-side (not Python str()) so it agrees with Spark's own directory
    # rendering — boolean casts to 'true'/'false' (Python str gives 'True'),
    # and null stays None here, matched null-safely below and rendered as
    # __HIVE_DEFAULT_PARTITION__ when a tombstoned directory is addressed.
    def _canon(df: DataFrame) -> set[tuple[str | None, ...]]:
        casted = df.select(
            *[F.col(c).cast("string").alias(c) for c in partition_cols]
        )
        return {tuple(r) for r in casted.distinct().collect()}

    keyed = existing.join(
        F.broadcast(reprocessed_keys.select(key_col)), key_col, "left_semi"
    )
    affected = _canon(keyed)
    affected |= _canon(new_rows)
    if not affected:
        return

    part_pred = F.lit(False)
    for values in affected:
        clause = F.lit(True)
        for col, val in zip(partition_cols, values):
            clause = clause & F.col(col).cast("string").eqNullSafe(
                F.lit(val).cast("string")
            )
        part_pred = part_pred | clause

    survivors = (
        existing.filter(part_pred)
        .join(F.broadcast(reprocessed_keys.select(key_col)), key_col, "left_anti")
    )
    out = survivors.select(
        [F.col(c).cast(new_rows.schema[c].dataType) for c in new_rows.columns]
    ).unionByName(new_rows).persist()

    # Materialize the output partition set BEFORE the overwrite — `out`'s
    # lineage reads the files the write replaces, so it must not be
    # re-evaluated afterwards (persist also makes the write a cache read).
    out_parts = _canon(out)

    # Dynamic partition overwrite: only the partitions present in `out`
    # (== the affected set) are replaced; everything else is untouched.
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    # A partition whose every row was tombstoned has no rows in `out`, so
    # dynamic overwrite leaves its stale files; rewrite it empty explicitly
    # (partition values Hive-escaped to address the real directory).
    emptied = [p for p in affected if p not in out_parts]
    for values in emptied:
        subdir = path + "".join(
            f"/{col}={_escape_partition_value(val)}"
            for col, val in zip(partition_cols, values)
        )
        empty = spark.createDataFrame([], out.drop(*partition_cols).schema)
        empty.write.mode("overwrite").parquet(subdir)
    out.unpersist()
    new_rows.unpersist()


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
