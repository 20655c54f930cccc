"""Small-file compaction for the keyed parquet sink (SURVEY.md §4 O7).

``upsert_chunks`` does not fragment a table: its dynamic partition
overwrite replaces each affected partition's files with one new file.
Files accrete where rows are appended instead — ``mode("append")``
ledgers such as the champion pipeline's ``docs/`` — and a hot partition
then gains a file on every write.  At 100 TB that is the classic
lakehouse small-file problem: scan parallelism degrades to file count,
footer reads dominate, and the NameNode/listing cost grows without
bound.  This module is the maintenance half of the sink contract: find
fragmented partitions from directory *metadata* (never data), rewrite
ONLY those via dynamic partition overwrite, one shuffle keyed on the
partition columns so each partition lands in exactly one task -> exactly
one file.

The reference has no analogue (it writes one .txt per chunk and never
compacts — the pathology, not the cure); the compaction policy follows
the public Delta/Iceberg OPTIMIZE design: pick rewrite candidates by
file-count threshold, rewrite partition-atomically, leave cold partitions
untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from knowledgebot_spark.sinks.keyed_parquet import (
    DEFAULT_PARTITIONS,
    _hidden,
    _partition_predicate,
    _unescape_partition_value,
)


def partition_file_counts(
    path: str, partition_cols: tuple[str, ...] = DEFAULT_PARTITIONS
) -> dict[tuple, int]:
    """(partition values) -> number of data files, from a driver-side
    directory walk (values decoded from the directory names; a null
    partition is ``None``; data files are the names Spark's listing
    reads).  This is partition METADATA (dir names + file counts),
    the same listing any table format keeps in its manifest — never row
    data; cost is O(partitions + files), not O(rows)."""
    counts: dict[tuple, int] = {}
    depth = len(partition_cols)
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        rel = os.path.relpath(root, path)
        if rel == ".":
            continue
        parts = rel.split(os.sep)
        if len(parts) != depth:
            continue
        values = []
        ok = True
        for col, comp in zip(partition_cols, parts):
            prefix = f"{col}="
            if not comp.startswith(prefix):
                ok = False
                break
            values.append(_unescape_partition_value(comp[len(prefix):]))
        if not ok:
            continue
        n = sum(1 for f in files if not _hidden(f))
        if n:
            counts[tuple(values)] = n
    return counts


def compact_keyed_table(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...] = DEFAULT_PARTITIONS,
    max_files_per_partition: int = 1,
) -> int:
    """Rewrite every partition holding more than ``max_files_per_partition``
    data files down to one file each; returns the number of partitions
    compacted.  Cold partitions are never read or written (dynamic
    partition overwrite replaces only the partitions present in the
    rewrite set)."""
    fragmented = [
        values
        for values, n in partition_file_counts(path, partition_cols).items()
        if n > max_files_per_partition
    ]
    if not fragmented:
        return 0

    rows = spark.read.parquet(path).filter(
        _partition_predicate(partition_cols, fragmented)
    )
    # One hash shuffle on the partition key: every partition tuple maps to
    # exactly one task, so the writer emits exactly one file per partition.
    (
        rows.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return len(fragmented)
