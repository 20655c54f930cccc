"""Testdata table loaders.

``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS, isAdjustedToUTC
= false).  pyspark 4.1 reads that natively as TIMESTAMP_NTZ (lossless here —
the data's actual precision is microseconds; DuckDB reads the same file as
TIMESTAMP_NS and compares at micros).  Older Sparks with
``spark.sql.legacy.parquet.nanosAsLong`` delivered raw nanosecond longs
instead; that conf is silently *ignored* on 4.1 — exactly the kind of
reader-semantics drift that shifted every streamed event to January 1970 in
round 3.  Defenses: a guarded bigint fallback that detects the epoch unit by
magnitude, and a one-time canary that asserts the first event parses to a
plausible year (tests/test_tables.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# (session id, path) -> loaded DataFrame.  Schema inference runs a small
# footer-reading Spark job per spark.read.parquet() call, and even a
# schema-pinned reader costs several py4j round-trips; query builders
# re-read the same static tables constantly, so cache the (immutable)
# DataFrame itself — building a catalog DataFrame then launches ZERO jobs
# (asserted by tests/test_plans.py::test_tfidf_builds_without_spark_job)
# and re-uses one analyzed relation per table.  At 100 TB the same
# discipline applies: a production catalog pins schemas (metastore /
# contract files) instead of re-footer-scanning per query.
_DF_CACHE: dict = {}

# Epoch-unit thresholds for the bigint fallback: seconds since 1970 for any
# date this century is ~1e9-4e9; micros ~1e15-1e17; nanos ~1e18+.  A single
# probe row decides the unit for the whole table (homogeneous writer).
_MICROS_MIN = 10**14
_NANOS_MIN = 10**17


def _events_ts_from_long(df: DataFrame, probe_value: int) -> DataFrame:
    if probe_value >= _NANOS_MIN:
        expr = F.timestamp_micros(F.expr("ts div 1000"))
    elif probe_value >= _MICROS_MIN:
        expr = F.timestamp_micros(F.col("ts"))
    else:
        expr = F.timestamp_seconds(F.col("ts"))
    return df.withColumn("ts", expr)


def _canary(df: DataFrame, path: str) -> None:
    """One cheap job per cache-miss: the first event row must parse to a
    plausible year.  pyspark minor bumps have changed parquet timestamp
    reader semantics silently (nanos-as-long -> ntz); this fails loudly at
    load instead of producing 1970-dated windows downstream.  Reads one row
    from one row group — O(1) regardless of table size."""
    row = df.select(F.year("ts").alias("y")).limit(1).collect()
    if row and not (2000 <= row[0].y <= 2100):
        raise AssertionError(
            f"events ts canary failed for {path}: first row parses to year "
            f"{row[0].y}; the parquet timestamp reader semantics have "
            "changed — audit tables.read_table and EVENTS_RAW_SCHEMA"
        )


_NPART_CACHE: dict = {}


def read_spread(
    spark: SparkSession, sf_dir: str, name: str, min_parts: int | None = None
) -> DataFrame:
    """read_table + round-robin repartition when the scan cannot split.

    Parquet splits at ROW-GROUP granularity; the small testdata files are
    single row groups, so ``spark.sql.files.minPartitionNum`` cannot help
    and every pre-shuffle expression downstream of the scan runs in ONE
    task.  Compute-heavy per-row operators (hash embedding, BPE, simhash,
    span hashing) use this loader to spread the rows across cores first.
    The guard keeps it scale-correct: inputs that already split (any real
    multi-row-group/multi-file dataset — i.e. everything at 100 TB) pass
    through untouched, so the raw-text reshuffle is paid exactly when the
    alternative is a single-core stage."""
    df = read_table(spark, sf_dir, name)
    target = min_parts or spark.sparkContext.defaultParallelism
    key = (id(spark), f"{sf_dir}/{name}")
    nparts = _NPART_CACHE.get(key)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        _NPART_CACHE[key] = nparts
    if nparts >= max(target // 2, 2):
        return df
    return df.repartition(target)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark), path)
    df = _DF_CACHE.get(key)
    if df is None:
        schema = spark.read.parquet(path).schema
        df = spark.read.schema(schema).parquet(path)
        if name == "events":
            if dict(df.dtypes).get("ts") == "bigint":
                probe = df.select("ts").limit(1).collect()
                if probe:
                    df = _events_ts_from_long(df, probe[0].ts)
            _canary(df, path)
        _DF_CACHE[key] = df
    return df
