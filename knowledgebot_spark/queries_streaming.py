"""Structured-Streaming query catalog (SURVEY.md §2.3 streaming row, §7 M5).

Each query executes a REAL streaming plan — file-source ``readStream`` over
the events parquet, ``Trigger.AvailableNow``, memory sink — and returns the
sink contents as a batch DataFrame.  Complete output mode makes windowed
aggregates independent of micro-batch boundaries, so the DuckDB oracle (the
same SQL as the batch ``rel_events_*`` twins) hash-checks streaming
execution end-to-end.  Append-mode/late-data semantics are covered in
tests/test_streaming.py with a two-batch replay (batch boundaries are a
harness artifact, not a stable query result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from knowledgebot_spark.registry import register
from knowledgebot_spark.streaming import pipeline as sp

_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""

_SLIDING_SQL = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n, round(sum(value), 2) AS sum_value
FROM (
  SELECT e.*, time_bucket(INTERVAL '30 minutes', e.ts) - k.k * INTERVAL '30 minutes' AS ws
  FROM events e, (VALUES (0), (1)) k(k)
)
WHERE ts >= ws AND ts < ws + INTERVAL '60 minutes'
GROUP BY ws
"""

_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, sid
"""

_DISTINCT_SQL = """
SELECT DISTINCT event_type, strftime(ts, '%Y-%m-%d') AS event_date FROM events
"""


@register("stream_tumbling", sql=_TUMBLING_SQL, tags=("streaming", "tumbling", "watermark"))
def stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    events = sp.read_events_stream(spark, sf)
    return sp.run_to_memory(sp.tumbling_counts(events), "complete")


@register("stream_sliding", sql=_SLIDING_SQL, tags=("streaming", "sliding", "watermark"))
def stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    events = sp.read_events_stream(spark, sf)
    return sp.run_to_memory(sp.sliding_counts(events), "complete")


@register("stream_session", sql=_SESSION_SQL, tags=("streaming", "session-window"))
def stream_session(spark: SparkSession, sf: str) -> DataFrame:
    events = sp.read_events_stream(spark, sf)
    return sp.run_to_memory(sp.session_counts(events), "complete")


@register("stream_dedup", sql=_DISTINCT_SQL, tags=("streaming", "dropDuplicates"))
def stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """State-backed streaming dropDuplicates in append mode (deterministic
    because the projection IS the dedup key)."""
    events = sp.read_events_stream(spark, sf)
    return sp.run_to_memory(sp.distinct_pairs(events), "append")


_STATEFUL_SQL = """
SELECT event_type, count(*) AS n_events,
  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
"""


@register("stream_stateful", sql=_STATEFUL_SQL, tags=("streaming", "applyInPandasWithState"))
def stream_stateful(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-event-type
    running (count, cents) totals kept in GroupState across micro-batches;
    each batch emits the running totals.  Sums are integer cents (computed
    JVM-side before the UDF) so state totals are exact and oracle-checkable.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running_totals(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "sum_cents": [cents]}
        )

    events = sp.read_events_stream(spark, sf).selectExpr(
        "event_type", "CAST(floor(value * 100) AS BIGINT) AS cents"
    )
    stateful = events.groupBy("event_type").applyInPandasWithState(
        running_totals,
        outputStructType="event_type string, n_events bigint, sum_cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return sp.run_to_memory(stateful, "update")


_SPINE_COLS = (
    "msg_key, channel_id, channel_name, msg_date, pretty_date, "
    "ts_underscored, snippet_no, chunk_key, author, members_csv, "
    "mentions_csv, content, header"
)


def _spine_oracle() -> str:
    from knowledgebot_spark.queries_pipeline import _SPINE_SQL

    return f"WITH spine AS ({_SPINE_SQL}) SELECT {_SPINE_COLS} FROM spine"


@register(
    "stream_extraction_spine",
    sql=None,  # replaced below once queries_pipeline is importable
    tags=("streaming", "M5", "foreachBatch", "exactly-once"),
)
def stream_extraction_spine(spark: SparkSession, sf: str) -> DataFrame:
    """The M1 extraction spine as a REAL streaming job: messages replayed
    through a file-source stream -> per-batch spine -> idempotent keyed
    upsert (foreachBatch + checkpoint = exactly-once) -> chunk table.  The
    result is hash-identical to the batch spine regardless of micro-batch
    boundaries because the sink MERGEs on msg_key."""
    import os

    from knowledgebot_spark import model
    from knowledgebot_spark.incremental import upsert_scope
    from knowledgebot_spark.operators import extraction as ex

    base = _run_base("stream_e2e", sf)  # per-run unique dir (ADVICE r09)
    src, out, ckpt = f"{base}/messages", f"{base}/chunks", f"{base}/ckpt"

    msgs = model.messages(spark, sf)
    msgs.write.parquet(src)
    users = model.users_dim(spark, sf)
    channels = model.channels_dim(spark, sf)
    members = model.members(spark, sf)

    stream = ex.filter_fresh(
        ex.with_msg_key(spark.readStream.schema(msgs.schema).parquet(src)),
        model.CKPT_MICROS,
        model.LOOKBACK_DAYS,
    )
    with sp.micro_batch_confs(spark):
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: upsert_scope(
                    batch.sparkSession, batch, users, channels, members, out
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).selectExpr(*_SPINE_COLS.split(", "))


# attach the oracle now that the function exists (avoids an import cycle at
# module load: queries_pipeline imports registry which loads this module)
from knowledgebot_spark import registry as _reg  # noqa: E402

def _late_bind_spine_oracle() -> None:
    qd = _reg._REGISTRY["stream_extraction_spine"]
    qd.sql = _spine_oracle()

_late_bind_spine_oracle()


_STREAM_JOIN_SQL = """
SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
"""


@register(
    "stream_stream_join",
    sql=_STREAM_JOIN_SQL,
    tags=("streaming", "stream-stream-join", "interval-join"),
)
def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join with watermarks on both sides: click ->
    purchase attribution within 10 minutes per user.  State on each side is
    bounded by the watermark + join time bound; the oracle is the identical
    batch interval join."""
    from pyspark.sql import functions as F

    clicks = (
        sp.read_events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "7 days")
        .select(
            F.col("event_id").alias("id_a"),
            F.col("user_id"),
            F.col("ts").alias("ts_a"),
        )
    )
    purchases = (
        sp.read_events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "7 days")
        .select(
            F.col("event_id").alias("id_b"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("id_a", "id_b", "user_id")
    return sp.run_to_memory(joined, "append")


_STREAM_STATIC_SQL = """
SELECT e.event_id, e.user_id, p.n_hist
FROM events e JOIN (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_hist
  FROM events GROUP BY user_id
) p USING (user_id)
WHERE e.event_type = 'purchase'
"""


@register(
    "stream_static_join",
    sql=_STREAM_STATIC_SQL,
    tags=("streaming", "stream-static-join", "broadcast"),
)
def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join: each micro-batch of purchase events is enriched
    against a STATIC per-user profile (a batch aggregate of the same events
    table) via broadcast hash join — the streaming analogue of J1/J3 dim
    enrichment.  Stateless (no watermark needed: the static side is fixed,
    so append mode re-evaluates only the batch rows), which is exactly how
    a 100 TB stream joins a dimension snapshot: broadcast the dim, never
    shuffle the stream."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.tables import read_table

    profile = (
        read_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_hist"))
    )
    stream = sp.read_events_stream(spark, sf).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream.join(F.broadcast(profile), "user_id").select(
        "event_id", "user_id", "n_hist"
    )
    return sp.run_to_memory(joined, "append")


_PY_STREAM_SQL = """
WITH g AS (SELECT unnest(generate_series(0, 499)) AS event_id)
SELECT CAST(event_id // 100 AS INTEGER) AS batch,
  CAST(count(*) AS BIGINT) AS n,
  CAST(min(event_id) AS BIGINT) AS lo,
  CAST(max(event_id) AS BIGINT) AS hi
FROM g GROUP BY 1
"""


@register(
    "stream_python_source",
    sql=_PY_STREAM_SQL,
    tags=("streaming", "python-datasource"),
)
def stream_python_source(spark: SparkSession, sf: str) -> DataFrame:
    """readStream through a CUSTOM streaming Python data source
    (sources/synthetic.py SyntheticEventsStreamSource): offset-managed
    micro-batches from a cursor-paginated generator — the reference's
    Slack-history polling loop inverted into a source the engine
    schedules, checkpoints, and replays.  The oracle verifies the full
    drained content (5 batches x 100 deterministic events)."""
    from knowledgebot_spark.sources.synthetic import register_stream_sources

    register_stream_sources(spark)
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("synthetic_events_stream")
        .option("batches", "5")
        .option("rows_per_batch", "100")
        .load()
    )
    agg = stream.groupBy("batch").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    )
    return sp.run_to_memory(agg, "complete")


_PY_SINK_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
"""


@register(
    "stream_python_sink",
    sql=_PY_SINK_SQL,
    tags=("streaming", "python-datasource", "sink", "exactly-once"),
)
def stream_python_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Stream the events table through the CUSTOM streaming Python sink
    (sources/jsonl_sink.py: task-staged temp files + atomic driver-side
    commit rename = exactly-once), then read the committed files back and
    aggregate — the oracle checks the round-tripped CONTENT, so a lost or
    doubled row anywhere in the stage/commit protocol fails the hash."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from knowledgebot_spark.sources.jsonl_sink import register_sink

    register_sink(spark)
    out = tempfile.mkdtemp(prefix="kb_pysink_")
    ckpt = out + "_ckpt"
    try:
        events = sp.read_events_stream(spark, sf).selectExpr(
            "event_type", "CAST(floor(value * 100) AS BIGINT) AS cents"
        )
        q = (
            events.writeStream.format("jsonlines_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = spark.read.schema("event_type string, cents long").json(
            f"file://{out}/b*.jsonl"
        )
        return (
            back.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        # committed shard files are read during localCheckpoint above
        shutil.rmtree(out, ignore_errors=True)


_FUNNEL_STATEFUL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
)
SELECT s1.user_id,
  CAST(1 + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
         + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END) AS INTEGER)
    AS reached
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s2.user_id = s3.user_id
"""


@register(
    "stream_funnel",
    sql=_FUNNEL_STATEFUL_SQL,
    tags=("streaming", "applyInPandasWithState", "funnel"),
)
def stream_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming conversion funnel as a custom stateful operator
    (applyInPandasWithState): per-user GroupState holds the irreducible
    exact state — min(view) and max(purchase) scalars plus the click
    multiset pruned to below the current qualifying minimum — so a
    late-arriving earlier 'view' correctly revises which 'click' counts,
    making the result exact under ANY micro-batch split (the minimal
    (t1,t2,t3) summary is NOT sufficient state: an earlier t1 can
    resurrect a click that was discarded as too-early — pinned by
    tests/test_streaming.py's adversarial three-batch replay; see
    pipeline.funnel_reach for the state-reduction argument and the
    TTL note).  The batch twin is rel_funnel_conversion and the oracle
    is the same staged-min SQL emitting per-user reach."""
    from pyspark.sql import functions as F

    events = sp.read_events_stream(spark, sf).selectExpr(
        "user_id",
        "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
    ).where("event_type IN ('view', 'click', 'purchase')")
    raw = sp.run_to_memory(sp.funnel_reach(events), "update")
    # Update mode emits one row per user PER MICRO-BATCH; reach is monotone,
    # so the per-user final answer is max(reached) — folded batch-side here
    # so the query's contract (one row per user) holds under any batch split,
    # not just single-batch AvailableNow runs.
    return raw.groupBy("user_id").agg(F.max("reached").alias("reached"))


_HLL_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, true AS within_tol
FROM events GROUP BY 1
"""


@register("stream_hll_distinct", sql=_HLL_SQL, tags=("streaming", "sketch", "hll"))
def stream_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming distinct users per hour via the mergeable DataSketches
    HLL aggregate — the sketch state is what the state store holds per
    window, so memory per window is KB-bounded no matter how many
    distinct users an hour sees (exact streaming distinct would grow
    state linearly with cardinality; dropDuplicates-based counting is the
    stream_dedup query's job).  Mergeability is the streaming superpower:
    micro-batch partial sketches union associatively, so the result is
    batch-identical regardless of batch boundaries.

    Correctness gate (same pattern as rel_hll_sketch): after the stream
    drains, each window's estimate is joined against the BATCH exact
    distinct count and gated within the published 5% error bound — the
    oracle states the exact counts and `true`."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.tables import read_table

    events = sp.read_events_stream(spark, sf)
    sketched = (
        events.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.hll_sketch_estimate("sk").alias("est"),
        )
    )
    est = sp.run_to_memory(sketched, "complete")
    exact = (
        read_table(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "exact_users",
        )
    )
    return est.join(exact, "window_start").select(
        "window_start",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_tol"),
    )


_ZSCORE_SQL = """
WITH stats AS (
  SELECT event_id, user_id, ts, value,
    avg(value) OVER w AS mu,
    stddev_samp(value) OVER w AS sigma,
    count(*) OVER w AS n_prior
  FROM events
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
  )
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
  round((value - mu) / sigma, 4) AS z
FROM stats
WHERE n_prior >= 10 AND sigma > 0 AND abs((value - mu) / sigma) > 2.5
"""


@register("stream_zscore", sql=_ZSCORE_SQL, tags=("streaming", "stateful", "anomaly"))
def stream_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming anomaly flags: rel_rolling_zscore's trailing-window
    z-score as a custom stateful operator (applyInPandasWithState) whose
    per-user state is the trailing <=20 observations — O(W) by
    construction, the bounded-state contrast to stream_funnel's
    full-buffer exactness (see pipeline.rolling_zscore_state).  Shares
    the batch query's oracle: identical flags, identical z values."""
    from pyspark.sql import functions as F

    events = sp.read_events_stream(spark, sf).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    out = sp.run_to_memory(sp.rolling_zscore_state(events), "append")
    return out.select(
        "event_id",
        "user_id",
        F.date_format(
            F.timestamp_micros(F.col("ts_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts"),
        "z",
    )


_ANTI_DEDUP_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_new,
  round(sum(value), 2) AS sum_value
FROM events WHERE event_id % 7 <> 0
GROUP BY event_type
"""


@register(
    "stream_anti_dedup",
    sql=_ANTI_DEDUP_SQL,
    tags=("streaming", "anti-join", "dedup-gate"),
)
def stream_anti_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingestion dedup gate: each micro-batch LEFT ANTI joins a
    static already-processed key set (here a deterministic slice of
    event_ids standing in for the checkpointed ledger), so only
    never-seen records flow downstream — the streaming twin of
    llm_dedup_incremental's CDC gate, and the third stream-static join
    flavor alongside the broadcast enrich (stream_static_join) and the
    interval join (stream_stream_join).

    Scale: the static key set broadcasts (or at 100 TB, bucket-joins
    against the stream's shuffle); the anti join is stateless per batch —
    no watermark, no state store growth, unlike streaming dropDuplicates
    whose state carries every key ever seen (stream_dedup).  That
    distinction — ledger-join dedup vs state-store dedup — is the
    operational choice every exactly-once ingest makes."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.tables import read_table

    processed = (
        read_table(spark, sf, "events")
        .filter(F.col("event_id") % 7 == 0)
        .select("event_id")
    )
    stream = sp.read_events_stream(spark, sf)
    fresh = stream.join(F.broadcast(processed), "event_id", "left_anti")
    agg = fresh.groupBy("event_type").agg(
        F.count("*").alias("n_new"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return sp.run_to_memory(agg, "complete")


_CDC_SQL = """
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
  event_type AS last_type, round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register(
    "stream_cdc_materialize",
    sql=_CDC_SQL,
    tags=("streaming", "cdc", "materialized-view", "foreachBatch"),
)
def stream_cdc_materialize(spark: SparkSession, sf: str) -> DataFrame:
    """CDC latest-state materialization: the event stream compacts into a
    one-row-per-key snapshot (each user's last event by event time) —
    the change-data-capture workload every lakehouse runs to keep a
    queryable current-state table behind an append-only log.

    Cross-batch correctness is last-writer-wins BY EVENT TIME, not by
    arrival: each foreachBatch round takes the batch's per-user latest,
    merges it against the PREVIOUS snapshot version with the same
    (ts, event_id) ordering, and writes an immutable new version — so
    any micro-batch split, including late replays, converges to the same
    snapshot the batch oracle computes.  Versioned snapshot dirs make
    each merge read committed data only (no read-your-own-overwrite
    races); production would vacuum old versions, the Delta/Iceberg
    commit pattern in miniature.  Snapshot size is |users|, so the merge
    cost is key-cardinality-bound regardless of log volume."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = _run_base("stream_cdc", sf)  # per-run unique dir (ADVICE r09)
    out, ckpt = f"{base}/snapshots", f"{base}/ckpt"
    os.makedirs(out, exist_ok=True)

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        sp_sess = batch.sparkSession
        versions = sorted(
            d for d in os.listdir(out) if d.startswith("v")
        )
        latest = _latest(
            batch.select("user_id", "ts", "event_id", "event_type", "value")
        )
        if versions:
            prev = sp_sess.read.parquet(f"{out}/{versions[-1]}")
            latest = _latest(prev.unionByName(latest))
        latest.write.mode("overwrite").parquet(f"{out}/v{batch_id:05d}")

    stream = sp.read_events_stream(spark, sf)
    with sp.micro_batch_confs(spark):
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    versions = sorted(d for d in os.listdir(out) if d.startswith("v"))
    snap = spark.read.parquet(f"{out}/{versions[-1]}")
    return snap.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
    )


def _duck_bands_ctes() -> str:
    """The gate family's shared signature CTEs (token hash -> shingle
    hash -> MinHash -> banded buckets, ending at ``bands(doc_id, band,
    bv)``), WITHOUT the leading WITH — the dominance rule is stated by
    the caller, so the id-ordered gate and the first-arrival-wins ooo
    gate share one signature text and can only differ in the rule they
    claim to differ in."""
    from knowledgebot_spark.queries_llm import (
        _duck_bands,
        _duck_minhash_cols,
        _duck_shingle_hashes,
    )

    return f"""hashed AS (
  SELECT doc_id,
    list_concat(list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT),
                [0, 0]::BIGINT[]) AS hh
  FROM (SELECT doc_id, str_split(lower(text), ' ') tk FROM documents)
), hs_t AS (SELECT doc_id, {_duck_shingle_hashes()} AS hs FROM hashed)
, mh AS (SELECT doc_id, {_duck_minhash_cols()} FROM hs_t)
, bands AS ({_duck_bands()})"""


def _duck_blocked_ctes() -> str:
    """The near-dup gate's decision CTEs (banded MinHash -> ``blocked`` =
    every doc sharing a band bucket with a smaller doc_id), WITHOUT the
    leading WITH — shared by stream_neardup_gate's oracle and the
    ingest-gated epoch composition's, so the two can never state
    different admission rules."""
    return f"""{_duck_bands_ctes()}
, blocked AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN bands a
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)"""


def _duck_neardup_gate_sql() -> str:
    return f"""
WITH {_duck_blocked_ctes()}
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_seen,
  CAST(sum(CASE WHEN bl.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN bl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM documents d LEFT JOIN blocked bl ON bl.doc_id = d.doc_id
GROUP BY d.source
"""


@register(
    "stream_neardup_gate",
    sql=_duck_neardup_gate_sql(),
    tags=("streaming", "dedup-gate", "minhash", "foreachBatch"),
)
def stream_neardup_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming NEAR-dup ingest gate — the MinHash upgrade of
    stream_anti_dedup's exact ledger join, i.e. the filter a training-data
    pipeline runs at ingest so near-duplicate documents never reach the
    corpus.  Each micro-batch: compute banded MinHash signatures
    (operators/dedup.py, the llm_dedup_minhash machinery verbatim), join
    against the APPEND-ONLY signature ledger of everything seen so far,
    block any document sharing a band bucket with a lower-doc_id document
    (seen earlier, or earlier in this batch), record per-doc decisions,
    append the batch's signatures to the ledger.

    Semantics are the dominance rule every blocked-dedup query here uses
    (blocked iff ANY smaller id shares a bucket — no recursive keep
    chain), and the DuckDB oracle states it in one shot.  ORACLE CONTRACT
    PRECONDITION: ingest is in doc_id order (non-decreasing across
    micro-batches — true for this source, which streams the documents
    table in id order).  Out-of-order arrival changes which member of a
    colliding pair gets admitted (first-arrival wins at the gate; the
    one-shot oracle's global rule says smallest-id wins), so an
    out-of-order deployment would need an arrival_seq ledger column in
    place of doc_id dominance.  Retry idempotence: decisions are written
    per-batch to a batch_id=N subdirectory with overwrite (a replayed
    foreachBatch rewrites its own partition, never double-counts), and
    the ledger is append-only with idempotent bucket membership
    (duplicate signature appends cannot change any decision).
    Per-source admission report: seen / kept / blocked."""
    from pyspark.sql import functions as F

    dec = _neardup_gate_decisions(spark, sf, "stream_neardup")
    return dec.groupBy("source").agg(
        F.count("*").alias("n_seen"),
        F.sum(F.when(~F.col("is_blocked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("is_blocked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_blocked"),
    )


# Out-of-order ingest shape for stream_neardup_gate_ooo: docs arrive in
# _OOO_WAVES interleaved waves (wave = doc_id % _OOO_WAVES, one
# micro-batch per wave), arrival_seq = wave * _OOO_SEQ_BASE + doc_id.
# Pure integer arithmetic so the DuckDB oracle states the SAME total
# arrival order exactly; _OOO_SEQ_BASE must exceed every doc_id, which
# the staged stream asserts at stage time.
_OOO_WAVES = 7
_OOO_SEQ_BASE = 1_000_000_000
# Retention window for stream_neardup_gate_ttl: only docs that arrived
# within the last _TTL_WAVES waves can block a new arrival, and expired
# signatures are DROPPED from the ledger at fold time.
_TTL_WAVES = 3


def _duck_neardup_gate_ooo_sql() -> str:
    # arrival_seq restated with the SAME module constants the Spark
    # staging uses — pure integer arithmetic, exact in both engines
    return f"""
WITH {_duck_bands_ctes()}
, seqd AS (
  SELECT doc_id, (doc_id % {_OOO_WAVES}) * {_OOO_SEQ_BASE} + doc_id AS seq
  FROM documents
), bands_seq AS (
  SELECT b.band, b.bv, b.doc_id, s.seq
  FROM bands b JOIN seqd s ON s.doc_id = b.doc_id
), blocked AS (
  SELECT DISTINCT b.doc_id
  FROM bands_seq b JOIN bands_seq a
    ON a.band = b.band AND a.bv = b.bv AND a.seq < b.seq
)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_seen,
  CAST(sum(CASE WHEN bl.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN bl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
  CAST(sum(CASE WHEN bl.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END) AS BIGINT)
    AS blocked_id_sum
FROM documents d LEFT JOIN blocked bl ON bl.doc_id = d.doc_id
GROUP BY d.source
"""


@register(
    "stream_neardup_gate_ooo",
    sql=_duck_neardup_gate_ooo_sql(),
    tags=("streaming", "dedup-gate", "minhash", "foreachBatch", "out-of-order"),
)
def stream_neardup_gate_ooo(spark: SparkSession, sf: str) -> DataFrame:
    """stream_neardup_gate for OUT-OF-ORDER ingest — the deployment
    shape the id-ordered gate's docstring names as out of contract
    ("out-of-order arrival ... would need an arrival_seq ledger column
    in place of doc_id dominance").  This query IS that variant:
    documents arrive in _OOO_WAVES interleaved waves (wave =
    doc_id % _OOO_WAVES, ONE micro-batch per wave via
    maxFilesPerTrigger=1, file mtimes pinning wave order), so a later
    batch routinely carries a SMALLER doc_id than an earlier one.  The
    gate runs the SAME _gate_batch / LSM-ledger machinery with
    dom_col="arrival_seq": the signature ledger stores (band, bv,
    arrival_seq) and the bucket-MIN dominance rule blocks a doc iff ANY
    EARLIER-ARRIVED doc shares a band bucket — first-arrival-wins, the
    only admissible semantics at a real ingest edge where doc ids are
    assigned upstream and arrival order is what the gate observes.

    arrival_seq = (doc_id % waves) * seq_base + doc_id is a
    deterministic exact-integer permutation, so the one-shot DuckDB
    oracle states the identical total order and the driver hash pins
    EXACTLY which docs get blocked (blocked_id_sum makes the output
    sensitive to the blocked SET, not just its size).  The decision set
    provably diverges from the id-ordered gate on this data (14 of 29
    blocked docs differ at sf0.01 — test-pinned non-vacuous both
    directions), which is the point: the two contracts are different,
    and each is oracle-checked against its own one-shot restatement.

    Scale shape: identical to stream_neardup_gate — banded-LSH probe
    against pruned base + bounded tail, bucket-MIN partial agg, never
    all-pairs; arrival_seq dominance adds zero plan nodes (MIN over a
    different column).  Ref parity: the reference bot ingests Slack
    events in arrival order (KnowledgeBot.py polling loop), so
    first-arrival-wins is the semantics its dedup-on-ingest actually
    has; the id-ordered gate is the batch-reproducible restatement."""
    from pyspark.sql import functions as F

    dec = _neardup_gate_decisions(
        spark, sf, "stream_neardup_ooo", dom_col="arrival_seq"
    )
    return _gate_admission_report(dec)


def _gate_admission_report(dec: DataFrame) -> DataFrame:
    """Per-source admission report with a blocked-SET-sensitive checksum
    — shared by the ooo and ttl gates so the two can't drift in shape."""
    from pyspark.sql import functions as F

    return dec.groupBy("source").agg(
        F.count("*").alias("n_seen"),
        F.sum(F.when(~F.col("is_blocked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("is_blocked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_blocked"),
        F.sum(F.when(F.col("is_blocked"), F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("blocked_id_sum"),
    )


def _duck_neardup_gate_ttl_sql() -> str:
    # the ooo oracle's arrival order plus the retention predicate —
    # a blocker must have arrived within the last _TTL_WAVES waves
    return f"""
WITH {_duck_bands_ctes()}
, seqd AS (
  SELECT doc_id, doc_id % {_OOO_WAVES} AS wave,
         (doc_id % {_OOO_WAVES}) * {_OOO_SEQ_BASE} + doc_id AS seq
  FROM documents
), bands_seq AS (
  SELECT b.band, b.bv, b.doc_id, s.seq, s.wave
  FROM bands b JOIN seqd s ON s.doc_id = b.doc_id
), blocked AS (
  SELECT DISTINCT b.doc_id
  FROM bands_seq b JOIN bands_seq a
    ON a.band = b.band AND a.bv = b.bv AND a.seq < b.seq
   AND a.wave >= b.wave - {_TTL_WAVES}
)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_seen,
  CAST(sum(CASE WHEN bl.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN bl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
  CAST(sum(CASE WHEN bl.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END) AS BIGINT)
    AS blocked_id_sum
FROM documents d LEFT JOIN blocked bl ON bl.doc_id = d.doc_id
GROUP BY d.source
"""


@register(
    "stream_neardup_gate_ttl",
    sql=_duck_neardup_gate_ttl_sql(),
    tags=(
        "streaming",
        "dedup-gate",
        "minhash",
        "foreachBatch",
        "out-of-order",
        "retention",
    ),
)
def stream_neardup_gate_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """stream_neardup_gate_ooo with a RETENTION WINDOW — the state-
    bounding variant a gate actually needs at continuous-ingest scale:
    the unwindowed gates' signature ledgers grow with CORPUS size
    forever (bounded in files by the LSM fold, but not in rows).  Here
    only documents that arrived within the last _TTL_WAVES waves can
    block a new arrival, so (a) each probe filters the base+tail reads
    with a parquet-pushable range predicate on arrival_seq — the probe
    input is O(window), not O(corpus) — and (b) the scheduled
    bucket_ledger_fold DROPS expired signatures (expire_below), holding
    ledger ROWS at O(window x batch) indefinitely.  This is the
    dedup-against-a-sliding-horizon policy real pretraining ingest uses
    when exact-forever dedup is either unaffordable or unwanted
    (periodic re-crawls SHOULD re-admit after the horizon passes).

    Semantics: first-arrival-wins within the window — blocked iff ANY
    bucket-mate arrived earlier AND within _TTL_WAVES waves.  Exact
    one-batch-per-wave precondition is asserted per batch, making the
    single batch-level cutoff equal to the per-doc windowed rule, and
    the DuckDB oracle restates exactly that with the same integer
    constants.  The blocked set is provably a PROPER subset of the
    unwindowed ooo gate's on this corpus (12 docs escape at sf0.001 —
    test-pinned), and blocked_id_sum pins exactly which docs.  Ledger
    expiry is separately test-pinned: after folds, no signature older
    than the window survives in the base."""
    dec = _neardup_gate_decisions(
        spark,
        sf,
        "stream_neardup_ttl",
        dom_col="arrival_seq",
        ttl_waves=_TTL_WAVES,
    )
    return _gate_admission_report(dec)


# partition counts of the bucket-sharded signature ledgers: the gate's
# base (lp) and the champion bands base
_GATE_LEDGER_PARTS = 64
_BANDS_PARTS = 64
_GATE_COMPACT_EVERY_ENV = "KB_GATE_COMPACT_EVERY"
_GATE_COMPACT_EVERY_DEFAULT = 16
# files per gate batch's signature append to the ledger tail (see _gate_batch)
_GATE_TAIL_FILES = 1


def _bucket_probe_partition_values(bands: DataFrame, n_lp: int) -> list[str]:
    """Partition-filter literals for a bucket-sharded signature-ledger
    probe (the near-dup gate's base AND the champion bands base), as
    STRINGS (the _docs_probe_partition_values discipline: partition-type
    inference is pinned off, so string literals prune cast-free).  A
    ledger row can only collide with the batch if it shares a (band, bv)
    bucket, and lp is a pure function of the bucket — so pruning to the
    batch's own lp set is exact.  Module-level so tests pin the
    PRODUCTION derivation."""
    from pyspark.sql import functions as F

    return [
        str(int(r[0]))
        for r in bands.select(
            F.pmod(F.xxhash64("band", "bv"), F.lit(n_lp)).cast("int").alias("lp")
        )
        .distinct()
        .collect()
    ]


def bucket_ledger_fold(
    spark: SparkSession,
    ledger: str,
    n_lp: int = _GATE_LEDGER_PARTS,
    id_col: str = "doc_id",
    expire_below: int | None = None,
) -> int:
    """Fold the gate ledger's flat ``tail`` into the lp-partitioned
    ``base`` snapshot: read exactly the listed tail files + the current
    base generation, dropDuplicates on the signature key, commit as the
    next base generation behind the atomic CURRENT flip
    (_snapshot_commit — the fold's input lineage reads the OLD
    generation, the write lands in a NEW dir, so there is no
    read-your-own-overwrite window), then delete exactly the listed
    tail files.  A crash between the flip and the deletes leaves
    duplicate signature rows in the tail; the dominance rule is
    duplicate-insensitive and the next fold's dropDuplicates converges
    them.  The fold's n_lp is validated against (and recorded in) the
    base snapshot's meta — a fold with a DIFFERENT partition count than
    the base raises instead of silently invalidating every probe's
    pruning (ADVICE r12).  Returns the number of tail files retired."""
    import os

    from pyspark.sql import functions as F

    tail_dir, base_dir = f"{ledger}/tail", f"{ledger}/base"
    files = (
        [
            os.path.join(tail_dir, f)
            for f in os.listdir(tail_dir)
            if f.endswith(".parquet")
        ]
        if os.path.isdir(tail_dir)
        else []
    )
    if not files:
        return 0
    n_lp = _ledger_recorded_n_lp(base_dir, n_lp)
    rows = spark.read.parquet(*files).select("band", "bv", id_col)
    base_path = _snapshot_current(base_dir)
    if base_path:
        rows = rows.unionByName(
            spark.read.parquet(base_path).select("band", "bv", id_col)
        )
    if expire_below is not None:
        # retention-windowed gate (stream_neardup_gate_ttl): signatures
        # older than the window can never block again — dropping them at
        # fold time is what bounds ledger ROWS to O(window x batch)
        # instead of O(corpus)
        rows = rows.filter(F.col(id_col) >= F.lit(expire_below))
    folded = rows.dropDuplicates(["band", "bv", id_col]).withColumn(
        "lp", F.pmod(F.xxhash64("band", "bv"), F.lit(n_lp)).cast("int")
    )
    _snapshot_commit(
        folded, base_dir, partition_by=("lp",), meta={"n_lp": int(n_lp)}
    )
    for p in files:
        os.unlink(p)
    return len(files)


# --- per-batch subdir ledgers (round 13) ------------------------------------------
#
# The decisions ledger and the incremental pack table write one
# ``tail/batch_id=N`` subdir per micro-batch (the K2 overwrite-idempotence
# discipline: a replayed batch rewrites its own partition).  Left alone,
# that is one tiny dir + file set per batch FOREVER — the unbounded
# listing/inode growth VERDICT r12 asked bounded.  The fold below moves
# closed batch subdirs (batch_id <= current-1: committed in the stream's
# checkpoint, so never re-delivered) into WRITE-ONCE ``base/seg_*``
# segments behind an atomic FOLDED_THRU pointer.  Rows here are immutable
# once their batch closes (packs: arrival order only ever extends the
# tail pack; decisions: append-only facts), so the fold is a pure
# move+merge — it never reads a previous segment, making the amortized
# fold cost O(batches since last fold), NOT O(corpus): the
# input-grows-with-corpus shape stays dead even on the compaction path.
#
# Crash exactness (no dedup needed anywhere):
#   - crash mid-segment-write: FOLDED_THRU not flipped -> readers skip
#     segments newer than the pointer; the next fold sweeps the partial
#     segment and rewrites it (its input tail dirs were not yet deleted).
#   - crash between flip and tail deletes: readers skip tail subdirs
#     <= FOLDED_THRU (already in a segment); the next fold deletes them
#     without re-reading.

_DECISIONS_SCHEMA = "doc_id BIGINT, source STRING, is_blocked BOOLEAN"
_PACK_ROWS_SCHEMA = "doc_id BIGINT, source STRING, n_toks BIGINT, pack_id BIGINT"
_BATCH_FOLD_FILES_ENV = "KB_BATCH_FOLD_FILES"
_BATCH_FOLD_FILES_DEFAULT = 4


def _batch_ledger_folded_thru(root: str) -> int:
    """Highest batch_id folded into a base segment (-1 before the first
    fold).  The pointer is the fold's atomic commit point."""
    import os

    try:
        with open(os.path.join(root, "base", "FOLDED_THRU"), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _batch_ledger_tail_dirs(root: str, above: int) -> list[tuple[int, str]]:
    """(batch_id, path) of tail subdirs with batch_id > ``above`` that
    hold at least one parquet file, sorted by batch_id."""
    import os

    tail = os.path.join(root, "tail")
    out = []
    if os.path.isdir(tail):
        for d in os.listdir(tail):
            if not d.startswith("batch_id="):
                continue
            bid = int(d.split("=", 1)[1])
            p = os.path.join(tail, d)
            if bid > above and _has_parquet(p):
                out.append((bid, p))
    return sorted(out)


def batch_ledger_fold(
    spark: SparkSession, root: str, upto: int, n_files: int | None = None
) -> int:
    """Fold closed ``tail/batch_id<=upto`` subdirs into one new
    write-once ``base/seg_<upto>`` segment, flip FOLDED_THRU atomically,
    then delete exactly the folded (and any crash-leftover) tail
    subdirs.  Returns the number of tail subdirs retired."""
    import os
    import shutil
    import tempfile

    if n_files is None:
        n_files = int(
            os.environ.get(_BATCH_FOLD_FILES_ENV, str(_BATCH_FOLD_FILES_DEFAULT))
        )
    thru = _batch_ledger_folded_thru(root)
    dirs = [(b, p) for b, p in _batch_ledger_tail_dirs(root, thru) if b <= upto]
    if not dirs:
        return 0
    base = os.path.join(root, "base")
    os.makedirs(base, exist_ok=True)
    # sweep partial segments a crashed fold left unflipped (> FOLDED_THRU)
    for d in os.listdir(base):
        if d.startswith("seg_") and int(d.split("_", 1)[1]) > thru:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    new_thru = max(b for b, _ in dirs)
    seg = os.path.join(base, f"seg_{new_thru:09d}")
    spark.read.parquet(*[p for _, p in dirs]).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(seg)
    fd, tmp = tempfile.mkstemp(dir=base, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(str(new_thru))
        os.replace(tmp, os.path.join(base, "FOLDED_THRU"))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    n = 0
    for b, p in _batch_ledger_tail_dirs(root, -1):
        if b <= new_thru:
            shutil.rmtree(p, ignore_errors=True)
            n += 1
    return n


def _batch_ledger_read(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """Union of the committed base segments and the unfolded tail
    subdirs — exact under every crash window (see the block comment
    above).  An empty ledger (zero rows delivered, or every row gated
    out) returns an EMPTY frame with the explicit schema instead of
    failing parquet schema inference (ADVICE r12)."""
    import os

    thru = _batch_ledger_folded_thru(root)
    base = os.path.join(root, "base")
    paths = []
    if os.path.isdir(base):
        paths += [
            os.path.join(base, d)
            for d in sorted(os.listdir(base))
            if d.startswith("seg_") and int(d.split("_", 1)[1]) <= thru
        ]
    paths += [p for _, p in _batch_ledger_tail_dirs(root, thru)]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*paths)


def _prune_state_generations(state_dir: str, keep_from: int) -> None:
    """Delete ``state/batch_id=M`` generations with M < keep_from.
    Replay safety needs only the PREVIOUS generation (batch N re-reads
    batch N-1's state), so the caller passes keep_from = N-1; without
    this the per-batch state dirs accumulate forever (VERDICT r12)."""
    import os
    import shutil

    if not os.path.isdir(state_dir):
        return
    for d in os.listdir(state_dir):
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < keep_from:
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


def _gate_batch(
    batch: DataFrame,
    batch_id: int,
    ledger: str,
    decisions: str,
    n_lp: int,
    compact_every: int,
    dom_col: str = "doc_id",
    ttl_waves: int | None = None,
    seq_base: int | None = None,
) -> None:
    """One micro-batch of the near-dup admission gate — module-level so
    the fully-streaming composition (stream_gated_pack_incremental) and
    tests drive the SAME gate the registered query runs.  Probes the
    LSM ledger (pruned base + bounded tail + the batch), writes the
    batch's decisions to its own batch_id subdir (overwrite-idempotent
    under replay), appends the batch signatures to the tail, and folds
    on schedule.  See _neardup_gate_decisions for the full contract.

    ``dom_col`` is the DOMINANCE key the bucket-MIN rule runs on:
    "doc_id" gives the id-ordered contract (smallest id wins),
    "arrival_seq" gives first-arrival-wins for out-of-order ingest
    (stream_neardup_gate_ooo) — the ledger then stores (band, bv,
    arrival_seq) and a later arrival is blocked by ANY earlier-arrived
    bucket-mate, regardless of doc_id order.

    ``ttl_waves`` (with ``seq_base``, requires dom_col="arrival_seq")
    adds a RETENTION WINDOW: only bucket-mates that arrived within the
    last ttl_waves waves can block (probe reads are filtered to
    arrival_seq >= (batch_wave - ttl_waves) * seq_base — a parquet-
    pushable range predicate), and the scheduled fold DROPS expired
    signatures, so ledger rows are O(window x batch) instead of
    O(corpus).  Exact because each micro-batch is exactly one wave
    (asserted), so one batch-level cutoff equals the per-doc rule."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators import dedup as dd

    sp_sess = batch.sparkSession
    tail_dir, base_dir = f"{ledger}/tail", f"{ledger}/base"

    hashed = batch.select(
        dom_col, F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    # persist: the batch's shingle/MinHash/band signatures feed FOUR
    # consumers (the lp-literal collect, the bucket_min probe union, the
    # blocked join, the tail append) — unpersisted they recompute the
    # dominant per-batch hash work up to 4x (ADVICE r12); the analogous
    # frame in _champion_maintain was already persisted
    bands = dd.lsh_bands(dd.with_minhash(hashed, dom_col), dom_col).persist()
    ttl_min: int | None = None
    if ttl_waves is not None:
        if dom_col != "arrival_seq" or not seq_base:
            raise ValueError("ttl_waves requires dom_col='arrival_seq'")
        # NOTE (round-13): replacing this agg with a limit-1 probe plus a
        # per-row raise_error assert inside the decisions projection was
        # A/B'd and LOST (~+2 s over 7 waves at sf0.1) — raise_error in
        # the hot projection costs more than the one tiny agg job saves
        lo, hi = batch.agg(
            F.min(dom_col), F.max(dom_col)
        ).collect()[0]
        if lo is None:
            bands.unpersist()
            return
        if lo // seq_base != hi // seq_base:
            raise ValueError(
                f"TTL gate requires one wave per batch, got waves "
                f"{lo // seq_base}..{hi // seq_base} in batch {batch_id}"
            )
        ttl_min = (lo // seq_base - ttl_waves) * seq_base
    seen = bands
    base_path = _snapshot_current(base_dir)
    if base_path:
        # probe literals MUST use the n_lp the base was folded under —
        # mismatch raises instead of silently mispruning (ADVICE r12)
        n_lp = _ledger_recorded_n_lp(base_dir, n_lp)
        lps = _bucket_probe_partition_values(bands, n_lp)
        probe = sp_sess.read.parquet(base_path).filter(
            F.col("lp").isin(lps)  # file-level partition pruning
        )
        if ttl_min is not None:
            probe = probe.filter(F.col(dom_col) >= F.lit(ttl_min))
        seen = seen.unionByName(probe.select("band", "bv", dom_col))
    if _has_parquet(tail_dir):
        tail = sp_sess.read.parquet(tail_dir)
        if ttl_min is not None:
            tail = tail.filter(F.col(dom_col) >= F.lit(ttl_min))
        seen = seen.unionByName(tail.select("band", "bv", dom_col))
    # dominance via bucket MIN, not a bucket self-join: "blocked iff ANY
    # smaller dom_col shares a bucket" == "bucket min over seen < dom_col"
    # (seen includes the doc itself, so min == dom_col means no smaller
    # member).  The self-join materialized k^2 rows per hot bucket —
    # measured 5.9x at 10x corpus on the gated pipeline; the min is a
    # map-side partial agg, so the probe stays linear in ledger rows.
    bucket_min = seen.groupBy("band", "bv").agg(F.min(dom_col).alias("m"))
    blocked = (
        bands.join(bucket_min, ["band", "bv"])
        .filter(F.col("m") < F.col(dom_col))
        .select(dom_col)
        .distinct()
        .withColumn("is_blocked", F.lit(True))
    )
    dec_cols = (
        ["doc_id", "source"] if dom_col == "doc_id" else ["doc_id", "source", dom_col]
    )
    dec_frame = batch.select(*dec_cols).join(blocked, dom_col, "left").select(
        "doc_id",
        "source",
        F.coalesce(F.col("is_blocked"), F.lit(False)).alias("is_blocked"),
    )
    dec_frame.write.mode("overwrite").parquet(f"{decisions}/tail/batch_id={batch_id}")
    # few-large-files discipline for the per-batch signature append (guide
    # §6): the tail is re-LISTED and re-read by every later batch's probe,
    # so _GATE_TAIL_FILES files per batch beat one file per cached
    # partition.  The coalesce reads the already-persisted bands, so it
    # adds no recompute.
    bands.coalesce(_GATE_TAIL_FILES).write.mode("append").parquet(tail_dir)
    bands.unpersist()
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        bucket_ledger_fold(
            sp_sess, ledger, n_lp, id_col=dom_col, expire_below=ttl_min
        )
        # decisions batch subdirs <= batch_id-1 are closed (committed in
        # the stream checkpoint, never re-delivered) — fold them on the
        # same cadence so dir count stays bounded (VERDICT r12)
        batch_ledger_fold(sp_sess, decisions, upto=batch_id - 1)


def _neardup_gate_decisions(
    spark: SparkSession,
    sf: str,
    run_name: str,
    dom_col: str = "doc_id",
    ttl_waves: int | None = None,
) -> DataFrame:
    """Run the streaming near-dup ingest gate end-to-end and return the
    per-doc decisions frame (doc_id, source, is_blocked) — the body of
    stream_neardup_gate, factored so the ingest-gated epoch composition
    consumes the SAME gate (same ledger discipline, same dominance
    rule) instead of restating it.

    Ledger discipline (round 12 — the champion ledgers' round-10/11
    treatment, applied to the gate): the signature ledger is an LSM
    pair.  Batches append FLAT to a small ``tail`` (identical per-batch
    cost to the original flat ledger — no shuffle, no partition fan-out
    on the hot path), and every KB_GATE_COMPACT_EVERY batches the tail
    folds into a ``base`` snapshot PARTITIONED BY
    lp = pmod(xxhash64(band, bv), _GATE_LEDGER_PARTS) behind the
    atomic CURRENT-pointer flip (_snapshot_commit with partition_by).
    Each batch's probe reads: the base PRUNED to partitions that can
    hold one of the batch's own buckets (exact — a colliding row shares
    the bucket, and lp is a pure function of it; cast-free string
    partition literals per the docs-probe discipline) + the whole tail
    (bounded by compact_every batches of signatures) + the batch
    itself.  The probe was previously a full flat-ledger read every
    batch — the input-grows-with-corpus shape VERDICT r10 eliminated
    from the champion path.  The fold dropDuplicates on the signature
    key, so replayed tail rows (a crash between the base flip and the
    tail delete) converge instead of accumulating."""
    import os

    base = _run_base(run_name, sf)  # per-run unique dir (ADVICE r09)
    ledger, decisions, ckpt = f"{base}/ledger", f"{base}/decisions", f"{base}/ckpt"
    os.makedirs(f"{ledger}/tail", exist_ok=True)
    os.makedirs(decisions, exist_ok=True)
    compact_every = int(
        os.environ.get(_GATE_COMPACT_EVERY_ENV, str(_GATE_COMPACT_EVERY_DEFAULT))
    )

    def _gate(batch: DataFrame, batch_id: int) -> None:
        _gate_batch(
            batch,
            batch_id,
            ledger,
            decisions,
            _GATE_LEDGER_PARTS,
            compact_every,
            dom_col,
            ttl_waves=ttl_waves,
            seq_base=_OOO_SEQ_BASE if ttl_waves is not None else None,
        )

    if dom_col == "arrival_seq":
        stream = sp.read_documents_stream_ooo(
            spark, sf, _OOO_WAVES, _OOO_SEQ_BASE
        )
    else:
        stream = sp.read_documents_stream(spark, sf)
    with sp.micro_batch_confs(spark):
        q = (
            stream.writeStream.foreachBatch(_gate)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return _batch_ledger_read(spark, decisions, _DECISIONS_SCHEMA)


def _duck_ingest_pack_sql() -> str:
    from knowledgebot_spark.queries_llm import (
        _DUCK_EPOCH_PACK_TAIL,
        _duck_epoch_cte_body,
    )

    return f"""
WITH {_duck_blocked_ctes()}
, admitted AS (
  SELECT d.* FROM documents d LEFT JOIN blocked b ON b.doc_id = d.doc_id
  WHERE b.doc_id IS NULL
), {_duck_epoch_cte_body("admitted")}{_DUCK_EPOCH_PACK_TAIL}"""


@register(
    "stream_epoch_ingest_pack",
    sql=_duck_ingest_pack_sql(),
    tags=(
        "streaming",
        "dedup-gate",
        "training-data",
        "mixture",
        "packing",
        "pretraining",
        "composition",
    ),
)
def stream_epoch_ingest_pack(spark: SparkSession, sf: str) -> DataFrame:
    """The full training-data pipeline as ONE query (VERDICT r11 #5):
    streaming INGEST through the near-dup admission gate
    (stream_neardup_gate's foreachBatch MinHash-ledger gate, verbatim —
    _neardup_gate_decisions), then the epoch MIXTURE -> SAMPLE -> PACK
    composition (llm_epoch_pack's closed-form packer, verbatim —
    _epoch_pack_rows) over ONLY the admitted corpus.  This is the shape
    a pretraining data job actually runs: documents arrive as a stream,
    near-duplicates of anything already ingested never reach the corpus,
    and the surviving corpus is mixed, epoch-replicated, and cut into
    fixed 512-token training sequences.

    Both stages are the registered queries' own code paths, so this
    query pins their COMPOSITION cross-engine: the oracle restates the
    gate's dominance rule (blocked iff ANY smaller doc_id shares a band
    bucket — one shared CTE text with stream_neardup_gate's oracle) and
    the packer's closed-form boundary (one shared tail text with
    llm_epoch_pack's), over an ``admitted`` CTE.  Every output column is
    an exact integer; pack_checksum (sum of doc_id x epoch per pack)
    means a gated-out doc leaking into ANY pack hash-fails the driver —
    the doc-level exclusion is additionally test-pinned
    (tests/test_round12_ops.py::test_ingest_gated_docs_never_packed).

    Scale shape: the gate is per-batch banded-LSH against an append-only
    signature ledger (never all-pairs); the pack stage adds nothing
    beyond llm_epoch_pack's plan (scan + distributed cumsum + bounded
    explode + keyed partial agg).  The mixture recipe re-derives its
    stats over the admitted corpus — apportionment weights stay
    md5(source)-deterministic, so admission changes budgets, never
    tie-breaks."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.queries_llm import _epoch_pack_agg, _epoch_pack_rows
    from knowledgebot_spark.tables import read_table

    dec = _neardup_gate_decisions(spark, sf, "stream_epoch_ingest")
    admitted = dec.filter(~F.col("is_blocked")).select("doc_id")
    docs = read_table(spark, sf, "documents").join(
        admitted, "doc_id", "left_semi"
    )
    return _epoch_pack_agg(_epoch_pack_rows(docs))


def _pack_incr_batch(
    batch: DataFrame,
    batch_id: int,
    packs_dir: str,
    state_dir: str,
    compact_every: int = 0,
) -> None:
    """One micro-batch of incremental packing — module-level so tests can
    drive batches (and re-deliveries) directly.  See
    stream_pack_incremental for the state/idempotence contract.

    File/dir growth is BOUNDED (VERDICT r12): state generations older
    than batch_id-1 are pruned after every commit (replay needs only the
    previous one), and closed pack batch subdirs fold into write-once
    base segments every ``compact_every`` batches (batch_ledger_fold) —
    across B batches the live dir count is O(compact_every + B/compact_
    every), not O(B)."""
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators import ranking as rk

    sp_sess = batch.sparkSession
    tok = batch.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_toks"),
    )
    cum = rk.with_global_cumsum(
        tok, [F.col("source"), F.col("doc_id")], F.col("n_toks"), out="cum"
    )
    src_off = (
        cum.withColumn("pre", F.col("cum") - F.col("n_toks"))
        .groupBy("source")
        .agg(F.min("pre").alias("src_min"))
    )
    ws = cum.join(F.broadcast(src_off), "source").select(
        "doc_id",
        "source",
        "n_toks",
        (F.col("cum") - F.col("src_min")).alias("ws_cum"),
    )
    prev_state_dir = f"{state_dir}/batch_id={batch_id - 1}"
    if batch_id > 0 and _has_parquet(prev_state_dir):
        state = sp_sess.read.parquet(prev_state_dir)
    else:
        state = sp_sess.createDataFrame([], "source STRING, off BIGINT")
    placed = ws.join(F.broadcast(state), "source", "left").select(
        "doc_id",
        "source",
        "n_toks",
        F.expr("(coalesce(off, 0L) + ws_cum - n_toks) div 512")
        .cast("long")
        .alias("pack_id"),
    )
    placed.write.mode("overwrite").parquet(
        f"{packs_dir}/tail/batch_id={batch_id}"
    )
    batch_totals = ws.groupBy("source").agg(
        F.max("ws_cum").cast("long").alias("add")
    )
    new_state = state.join(batch_totals, "source", "full").select(
        "source",
        (
            F.coalesce(F.col("off"), F.lit(0))
            + F.coalesce(F.col("add"), F.lit(0))
        ).cast("long").alias("off"),
    )
    # ALWAYS written, even for an empty batch — batch N+1 reads exactly
    # batch N's state dir
    new_state.write.mode("overwrite").parquet(
        f"{state_dir}/batch_id={batch_id}"
    )
    _prune_state_generations(state_dir, keep_from=batch_id - 1)
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        batch_ledger_fold(sp_sess, packs_dir, upto=batch_id - 1)


_PACK_INCR_SQL = """
WITH tok AS (
  SELECT doc_id, source,
    CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_toks
  FROM documents
), ws AS (
  SELECT *, sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tok
)
SELECT source, CAST((cum - n_toks) // 512 AS BIGINT) AS pack_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
  CAST(sum(doc_id) AS BIGINT) AS pack_checksum
FROM ws GROUP BY 1, 2
ORDER BY source, pack_id
"""


@register(
    "stream_pack_incremental",
    sql=_PACK_INCR_SQL,
    tags=(
        "streaming",
        "training-data",
        "packing",
        "incremental-materialization",
        "foreachBatch",
    ),
)
def stream_pack_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally MAINTAINED sequence packing — the streaming
    counterpart of llm_epoch_pack's one-shot packer.  Documents arrive
    as a stream and are cut into fixed 512-token training sequences in
    ARRIVAL order (per source): each micro-batch computes its own
    within-source distributed cumsum (operators/ranking.py — no
    per-source window ever holds a corpus-scale partition), offsets it
    by the per-source token totals carried from the previous batch, and
    appends its (doc, pack_id) rows.  Because arrival order is append-
    only, a new batch can only EXTEND the last partial pack and add new
    ones — every earlier pack is immutable, so the materialized pack
    history is never rewritten (the property the recipe-ordered
    llm_epoch_pack cannot have: an md5-ordered insert lands anywhere
    and shifts every downstream boundary).  That is the shape a
    continuously-ingesting pretraining pipeline needs at 100 TB:
    per-batch work is one batch-sized cumsum + a source-cardinality
    state broadcast, and the pack table only ever appends.

    State discipline: the per-source running token totals are written
    to a ``batch_id=N`` subdirectory per batch (the K2 per-partition
    overwrite idempotence the decisions ledger uses — NOT a mutable
    pointer): batch N reads the state batch N-1 committed, so a
    replayed batch re-reads its original input state and overwrites its
    own outputs — byte-identical, no double-counted offsets.  Batch
    boundaries are provably a harness artifact: the one-shot oracle is
    a single cumsum over (source, doc_id) order, and the test replays
    the stream under a different batch partitioning and gets the
    identical pack table.  ORACLE CONTRACT PRECONDITION: ingest is in
    doc_id order across batches (the stream_neardup_gate precondition,
    same source).  Every output is an exact integer; pack_checksum
    (sum of member doc_ids) pins pack membership cross-engine."""
    import os

    from pyspark.sql import functions as F

    base = _run_base("stream_pack_incr", sf)
    packs_dir, state_dir, ckpt = f"{base}/packs", f"{base}/state", f"{base}/ckpt"
    os.makedirs(packs_dir, exist_ok=True)
    os.makedirs(state_dir, exist_ok=True)
    compact_every = int(
        os.environ.get(_GATE_COMPACT_EVERY_ENV, str(_GATE_COMPACT_EVERY_DEFAULT))
    )

    def _pack(batch: DataFrame, batch_id: int) -> None:
        _pack_incr_batch(batch, batch_id, packs_dir, state_dir, compact_every)

    stream = sp.read_documents_stream(spark, sf)
    with sp.micro_batch_confs(spark):
        q = (
            stream.writeStream.foreachBatch(_pack)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    placed = _batch_ledger_read(spark, packs_dir, _PACK_ROWS_SCHEMA)
    return (
        placed.groupBy("source", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("pack_tokens"),
            F.sum("doc_id").cast("long").alias("pack_checksum"),
        )
        .orderBy("source", "pack_id")
    )


def _duck_gated_pack_incr_sql() -> str:
    return f"""
WITH {_duck_blocked_ctes()}
, admitted AS (
  SELECT d.* FROM documents d LEFT JOIN blocked b ON b.doc_id = d.doc_id
  WHERE b.doc_id IS NULL
), tok AS (
  SELECT doc_id, source,
    CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_toks
  FROM admitted
), ws AS (
  SELECT *, sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tok
)
SELECT source, CAST((cum - n_toks) // 512 AS BIGINT) AS pack_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
  CAST(sum(doc_id) AS BIGINT) AS pack_checksum
FROM ws GROUP BY 1, 2
ORDER BY source, pack_id
"""


@register(
    "stream_gated_pack_incremental",
    sql=_duck_gated_pack_incr_sql(),
    tags=(
        "streaming",
        "dedup-gate",
        "training-data",
        "packing",
        "incremental-materialization",
        "composition",
        "foreachBatch",
    ),
)
def stream_gated_pack_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """The FULLY streaming training-data pipeline: near-dup admission
    gate and sequence packing composed inside ONE foreachBatch, every
    stage incremental.  Per micro-batch: the gate probes its LSM
    signature ledger and writes the batch's admit/block decisions
    (_gate_batch — the registered gate's own code path), then the
    ADMITTED slice of the batch flows straight into the arrival-ordered
    incremental packer (_pack_incr_batch — stream_pack_incremental's
    own code path), extending the immutable pack history.  Where
    stream_epoch_ingest_pack runs the gate as a stream and then packs
    the surviving corpus as a BATCH recompute (recipe-ordered, every
    boundary shifts on insert), this query never recomputes anything:
    per-batch cost is the gate probe (pruned base + bounded tail) + a
    batch-sized cumsum + a source-cardinality state broadcast, and
    both the decisions ledger and the pack table only ever append —
    the 100 TB continuous-ingest shape.

    Replay-safe end-to-end: the gate decisions and the pack rows land
    in per-batch overwrite subdirs, the packer's state is read from the
    PREVIOUS batch's committed dir, and the gate ledger append is
    duplicate-insensitive — a re-delivered batch rewrites its own
    outputs byte-identically.  ORACLE CONTRACT PRECONDITION: doc_id-
    ordered ingest (the gate's documented precondition); the one-shot
    oracle composes the gate's dominance rule (one shared CTE text with
    stream_neardup_gate) with a single cumsum over (source, doc_id)
    order on the admitted rows.  Exact integers throughout: a gated-out
    doc leaking into any pack, or a pack boundary drifting across batch
    cuts, hash-fails the driver."""
    import os

    from pyspark.sql import functions as F

    base = _run_base("stream_gated_pack", sf)
    ledger, decisions = f"{base}/ledger", f"{base}/decisions"
    packs_dir, state_dir, ckpt = f"{base}/packs", f"{base}/state", f"{base}/ckpt"
    os.makedirs(f"{ledger}/tail", exist_ok=True)
    os.makedirs(decisions, exist_ok=True)
    os.makedirs(packs_dir, exist_ok=True)
    os.makedirs(state_dir, exist_ok=True)
    compact_every = int(
        os.environ.get(_GATE_COMPACT_EVERY_ENV, str(_GATE_COMPACT_EVERY_DEFAULT))
    )

    def _gated_pack(batch: DataFrame, batch_id: int) -> None:
        _gate_batch(
            batch, batch_id, ledger, decisions, _GATE_LEDGER_PARTS, compact_every
        )
        # this batch's own decisions are never folded yet (fold stops at
        # batch_id-1), so the tail subdir read is always live
        dec = batch.sparkSession.read.parquet(
            f"{decisions}/tail/batch_id={batch_id}"
        )
        admitted = batch.join(
            dec.filter(~F.col("is_blocked")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        _pack_incr_batch(
            admitted, batch_id, packs_dir, state_dir, compact_every
        )

    stream = sp.read_documents_stream(spark, sf)
    with sp.micro_batch_confs(spark):
        q = (
            stream.writeStream.foreachBatch(_gated_pack)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    placed = _batch_ledger_read(spark, packs_dir, _PACK_ROWS_SCHEMA)
    return (
        placed.groupBy("source", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("pack_tokens"),
            F.sum("doc_id").cast("long").alias("pack_checksum"),
        )
        .orderBy("source", "pack_id")
    )


# --- incremental champion maintenance (round 9; delta-CC round 10) -------------

_CHAMPION_SCHEMA = (
    "cluster_id BIGINT, champion_doc_id BIGINT, champion_n_chars BIGINT, "
    "cluster_size BIGINT, n_dropped BIGINT"
)


def _has_parquet(d: str) -> bool:
    import os

    return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))


def _has_parquet_partitioned(d: str) -> bool:
    """True when a partitionBy-written dir holds at least one parquet file
    one level down (``band=N/part-*.parquet``)."""
    import os

    if not os.path.isdir(d):
        return False
    for sub in os.listdir(d):
        p = os.path.join(d, sub)
        if os.path.isdir(p) and any(f.endswith(".parquet") for f in os.listdir(p)):
            return True
    return False


def _run_base(name: str, sf: str) -> str:
    """Collision-free per-run state root (ADVICE r09): keyed by a hash of
    the ABSOLUTE sf path — two sf dirs sharing a basename can never share
    state — plus a per-run uuid, so two concurrent runs (parallel test
    workers, a driver check racing a bench) never clobber each other's
    ledgers or checkpoints mid-run.  Prior runs' state is pruned by AGE
    (2 h of inactivity anywhere under the run dir — far beyond any
    single run's batch gap here) instead of rmtree-ing a shared fixed
    path at startup, which is exactly the clobber the old basename(sf)
    scheme allowed.  Every stateful streaming query in this
    module (stream_e2e, stream_cdc, stream_neardup, stream_champion,
    stream_thread_latency) now allocates its state here."""
    import hashlib
    import os
    import shutil
    import time
    import uuid

    key = hashlib.sha1(os.path.abspath(sf).encode()).hexdigest()[:12]
    parent = f"/tmp/knowledgebot_spark/{name}/{key}"
    os.makedirs(parent, exist_ok=True)
    now = time.time()

    # Age = NEWEST mtime found anywhere under the candidate run dir, not
    # the base dir's own mtime: writes land in subdirectories (snap/,
    # ckpt/, ledgers) that never refresh the base dir, so a base-mtime
    # prune could rmtree a still-active >2h run out from under itself
    # (ADVICE r10 #3).  The walk short-circuits at the first fresh entry.
    def _newest_mtime(top: str) -> float:
        try:
            newest = os.path.getmtime(top)
        except OSError:
            newest = 0.0
        for dirpath, _dirnames, filenames in os.walk(top):
            for e in filenames:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(dirpath, e))
                    )
                except OSError:
                    pass
            try:
                newest = max(newest, os.path.getmtime(dirpath))
            except OSError:
                pass
            if now - newest <= 7200:  # provably fresh: stop walking
                return newest
        return newest

    for d in os.listdir(parent):
        p = os.path.join(parent, d)
        try:
            if now - _newest_mtime(p) > 7200:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    base = os.path.join(parent, uuid.uuid4().hex[:8])
    os.makedirs(base, exist_ok=True)
    return base


def _snapshot_current(table_dir: str) -> str | None:
    """Path of the committed snapshot version, or None before the first
    commit (or mid-crash: a partially written version dir that CURRENT
    never flipped to is invisible here by construction)."""
    import os

    try:
        with open(os.path.join(table_dir, "CURRENT"), encoding="utf-8") as fh:
            v = fh.read().strip()
    except OSError:
        return None
    p = os.path.join(table_dir, v)
    return p if os.path.isdir(p) else None


def _snapshot_meta(table_dir: str) -> dict | None:
    """Metadata recorded with the CURRENT generation (``_META.json``
    inside the generation dir — underscore-prefixed so Spark's file
    index ignores it), or None when no generation / no meta exists.
    The gate and champion bands ledgers record ``n_lp`` here so a probe
    can never prune with a different partition count than the one the
    base was folded under (ADVICE r12)."""
    import json
    import os

    p = _snapshot_current(table_dir)
    if not p:
        return None
    try:
        with open(os.path.join(p, "_META.json"), encoding="utf-8") as fh:
            return json.load(fh)
    except OSError:
        return None


def _ledger_recorded_n_lp(base_dir: str, n_lp: int) -> int:
    """The lp partition count a bucket-sharded ledger base was folded
    under.  Pruning exactness depends on the probe's literals being
    derived with the SAME n_lp as the fold (lp = pmod(xxhash64(band,
    bv), n_lp) is only a pure function of the bucket when both sides
    agree on n_lp) — a silent mismatch (a base folded under another
    partition count, or a caller passing a different value) would drop
    colliding signatures and admit near-duplicates with no error, so a
    mismatch raises (ADVICE r12).  Bases folded before meta existed
    return the caller's value unchanged."""
    meta = _snapshot_meta(base_dir)
    rec = (meta or {}).get("n_lp")
    if rec is None:
        return n_lp
    if int(rec) != int(n_lp):
        raise ValueError(
            f"bucket ledger at {base_dir} was folded with n_lp={rec} but "
            f"the probe/fold derived n_lp={n_lp} (folded under another "
            "partition count, or a caller passed a different value) — "
            "partition pruning would silently drop colliding signatures; "
            "rebuild the ledger or restore the recorded partition count"
        )
    return int(rec)


def _snapshot_commit(
    df: DataFrame,
    table_dir: str,
    partition_by: tuple[str, ...] = (),
    meta: dict | None = None,
) -> None:
    """Stage + atomic pointer flip for a maintained table (VERDICT r09 #3
    nit — the checkpoint sink's write-new-then-rename discipline,
    sinks/checkpoint.py:49, applied to a directory-shaped table): every
    commit writes the NEXT generation dir ``vNNN`` in full — never over a
    dir a reader (including the commit's own input lineage) may be on —
    and only then does the one-line CURRENT pointer os.replace() over the
    old one.  A crash at ANY point leaves readers on the previous
    committed version: there is no window in which a partial table is
    observable, and no read-your-own-overwrite race (the stream_cdc
    versioning discipline).  A replayed batch commits a new generation
    with IDENTICAL content (idempotent in data, monotone in version).
    The immediately previous version is kept one generation for reader
    grace; older versions are pruned.

    ``partition_by`` (round 12): lay the generation out partitionBy the
    given columns — one file per partition value via the repartition
    discipline — so readers of the committed path get file-level
    partition pruning (the gate ledger's lp-bucketed base)."""
    import os
    import shutil
    import tempfile

    os.makedirs(table_dir, exist_ok=True)
    prev = None
    try:
        with open(os.path.join(table_dir, "CURRENT"), encoding="utf-8") as fh:
            prev = fh.read().strip()
    except OSError:
        pass
    gen = int(prev[1:]) + 1 if prev else 1
    vname = f"v{gen:09d}"
    writer = (
        df.repartition(*partition_by).write.partitionBy(*partition_by)
        if partition_by
        else df.write
    )
    writer.mode("overwrite").parquet(os.path.join(table_dir, vname))
    if meta is not None:
        import json

        # inside the generation dir, BEFORE the flip: meta is atomic with
        # the generation it describes (underscore-prefixed -> invisible
        # to Spark's parquet file index)
        with open(
            os.path.join(table_dir, vname, "_META.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(meta, fh)
    fd, tmp = tempfile.mkstemp(dir=table_dir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(vname)
        os.replace(tmp, os.path.join(table_dir, "CURRENT"))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    for d in os.listdir(table_dir):
        if d.startswith("v") and d not in (vname, prev):
            shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)


def _snapshot_read(spark: SparkSession, table_dir: str) -> DataFrame | None:
    p = _snapshot_current(table_dir)
    return spark.read.parquet(p) if p else None


# --- sharded manifest snapshots (round 10) --------------------------------------
#
# The champion path's maintained tables (labels, champions) moved off the
# per-table CURRENT pointer (_snapshot_commit above — kept as the generic
# single-table primitive) onto ONE label-sharded manifest, for two reasons:
#
#   1. WRITE BOUNDEDNESS (the r09 docstring's own "at 100 TB shard it by
#      pmod(label, P)" promissory note, now code): a full-table rewrite per
#      batch is near-dup-NODE-bounded — correct, but the widest write in the
#      refresh.  Sharding both tables by pmod(label, P) and rewriting ONLY
#      shards containing touched labels makes the per-batch write cost
#      |touched shards| x shard size + increment, not the table.  Rows of one
#      component colocate (every member row carries the component label), so
#      a merge touches exactly the shards of the losing + winning labels.
#   2. NO INTER-TABLE CRASH WINDOW: the two-pointer scheme had a real one —
#      crash AFTER the labels flip but BEFORE the champions flip, and the
#      replayed batch contracts its edges through the already-merged labels,
#      finds them all internal (n_label_edges == 0), early-returns, and the
#      stale champion rows survive until some LATER batch happens to touch
#      the same components.  With labels and champions committed by ONE
#      os.replace of ONE manifest, that interleaving is structurally
#      impossible: either both tables moved, or neither did.
#
# Layout under <root>:
#   CURRENT                      one-line JSON manifest:
#                                {"gen": N, "n_shards": P,
#                                 "tables": {"labels": {"<shard>": gen, ...},
#                                            "champions": {...}}}
#   <table>/shard=<s>/g<gen>/    parquet data for that shard, written by the
#                                generation the manifest maps it to.
#
# The manifest is the only source of truth: generation dirs a crash left
# unstaged or unreferenced are invisible to readers and pruned by later
# commits.  A replayed batch recomputes the SAME next gen number (the flip
# never happened, so man["gen"] is unchanged), clobbers its own orphans, and
# commits identical content — idempotent in data, monotone in generation.

_SNAP_SHARDS = 16

# doc_id-keyed partitioning of the docs (verification-features) ledger:
# the per-batch verify probe reads only partitions that can hold a
# candidate id, so the probe's SCAN — not just its join width — tracks
# the candidate set (file-level pruning; at 100 TB raise the count so a
# partition is a few GB).
_DOCS_PARTS = 16


def _manifest_load(root: str) -> dict | None:
    """The committed manifest, or None before the first commit."""
    import json
    import os

    try:
        with open(os.path.join(root, "CURRENT"), encoding="utf-8") as fh:
            return json.load(fh)
    except OSError:
        return None


def _manifest_shard_paths(
    root: str, man: dict | None, table: str, shards: set[int] | None = None
) -> list[str]:
    """Data dirs serving ``table`` (optionally only ``shards``) under the
    committed manifest.  A shard whose committed generation dir EXISTS but
    holds no parquet files is an explicitly EMPTIED shard and contributes
    nothing; a committed generation dir that is MISSING is corruption
    (errant prune, partial restore) and raises instead of silently
    reading the shard as empty — downstream delta-CC would otherwise
    treat every node in it as brand-new (ADVICE r10 #1)."""
    import os

    if not man:
        return []
    out = []
    for s, gen in man.get("tables", {}).get(table, {}).items():
        if shards is not None and int(s) not in shards:
            continue
        p = os.path.join(root, table, f"shard={s}", f"g{gen:09d}")
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"snapshot manifest at {root} references {table} shard {s} "
                f"generation {gen}, but {p} does not exist — committed state "
                "was lost outside the commit protocol; rebuild the snapshot"
            )
        if any(f.endswith(".parquet") for f in os.listdir(p)):
            out.append(p)
    return out


def _manifest_table_read(
    spark: SparkSession, root: str, table: str, shards: set[int] | None = None
) -> DataFrame | None:
    """Read a manifest table (optionally only the given shards — the
    shard-local read the delta refresh uses).  None when nothing is
    committed (or every requested shard is empty).  Columns come from the
    manifest's per-table record: the staged files carry the UNION of all
    tables' columns (the one-job staging write, null-padded), and this
    projection is what hides the padding from every reader."""
    man = _manifest_load(root)
    paths = _manifest_shard_paths(root, man, table, shards)
    if not paths:
        return None
    df = spark.read.parquet(*paths)
    cols = man.get("columns", {}).get(table)
    return df.select(*cols) if cols else df


def _manifest_commit(
    root: str, updates: dict[str, tuple[DataFrame, set[int]]], n_shards: int
) -> None:
    """Stage the touched shards of every table as the next generation, then
    flip the ONE manifest atomically.

    ``updates``: table -> (replacement rows for the touched shards, carrying
    an int ``_shard`` column == pmod(key, n_shards), touched shard ids).  A
    touched shard absent from the frame is committed as explicitly EMPTY.
    Untouched shards keep their previous generation entries verbatim.

    Crash at any point before the os.replace leaves readers on the previous
    manifest — partially staged generation dirs are unreferenced and thus
    invisible; the replay rewrites them (same gen number) and flips.  After
    the flip, each touched shard keeps its immediately previous generation
    one commit for reader grace (the _snapshot_commit discipline).

    ALL tables stage through ONE Spark write (round 11, the r10 bench
    regression's fix: the bootstrap batch paid one repartition-write job
    per table): frames are null-padded to the union schema, tagged with a
    ``_table`` literal, and written partitionBy(_table, _shard) into one
    staging dir — one shuffle, one job, one file per (table, shard).
    Each table's REAL column list is recorded in the manifest and
    re-projected at read (_manifest_table_read), so the padding is
    invisible to readers."""
    import json
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    os.makedirs(root, exist_ok=True)
    man = _manifest_load(root) or {
        "gen": 0, "n_shards": n_shards, "tables": {}, "columns": {},
    }
    if man["n_shards"] != n_shards:
        raise ValueError(
            f"snapshot at {root} has n_shards={man['n_shards']}, "
            f"commit asked for {n_shards} — resharding requires a rebuild"
        )
    gen = man["gen"] + 1
    gname = f"g{gen:09d}"
    prev_ref = {t: dict(man["tables"].get(t, {})) for t in updates}

    # union schema across tables (a shared column name must agree on type)
    union_cols: dict[str, str] = {}
    for table, (df, _touched) in updates.items():
        for fld in df.schema.fields:
            if fld.name == "_shard":
                continue
            dt = fld.dataType.simpleString()
            if union_cols.setdefault(fld.name, dt) != dt:
                raise ValueError(
                    f"column {fld.name!r} has conflicting types across "
                    f"tables in one commit: {union_cols[fld.name]} vs {dt}"
                )
    tagged = None
    for table, (df, _touched) in updates.items():
        have = set(df.columns)
        padded = df.select(
            F.lit(table).alias("_table"),
            F.col("_shard"),
            *[
                F.col(c).alias(c)
                if c in have
                else F.lit(None).cast(t).alias(c)
                for c, t in union_cols.items()
            ],
        )
        tagged = padded if tagged is None else tagged.unionByName(padded)
    stage = os.path.join(root, f".stage_{uuid.uuid4().hex[:8]}")
    # one file per touched (table, shard) — the bands-ledger repartition
    # discipline: collapse the task x shard fan-out of tiny files
    tagged.repartition("_table", "_shard").write.partitionBy(
        "_table", "_shard"
    ).mode("overwrite").parquet(stage)
    for table, (df, touched) in updates.items():
        tdir = man["tables"].setdefault(table, {})
        cols = [c for c in df.columns if c != "_shard"]
        prev_cols = man.get("columns", {}).get(table)
        if prev_cols is not None and prev_cols != cols:
            # frozen-schema invariant (ADVICE r11): _manifest_table_read
            # reads shards still on OLDER generations with the LATEST
            # column list and no mergeSchema — a column added or
            # reordered mid-table would make old-generation shards read
            # schema-dependent on file sampling.  Evolving a table's
            # schema requires a full rebuild (every shard rewritten in
            # one commit), at which point delete the old entry first.
            raise ValueError(
                f"table {table!r} schema changed across commits "
                f"({prev_cols} -> {cols}); manifest tables are "
                "frozen-schema — rebuild the snapshot to evolve it"
            )
        man.setdefault("columns", {})[table] = cols
        for s in sorted(touched):
            src = os.path.join(stage, f"_table={table}", f"_shard={s}")
            dst_parent = os.path.join(root, table, f"shard={s}")
            os.makedirs(dst_parent, exist_ok=True)
            dst = os.path.join(dst_parent, gname)
            if os.path.isdir(dst):  # orphan from a crashed, replayed commit
                shutil.rmtree(dst)
            if os.path.isdir(src):
                os.rename(src, dst)
            else:  # shard emptied by this batch: explicit empty generation
                os.makedirs(dst)
            tdir[str(s)] = gen
    shutil.rmtree(stage, ignore_errors=True)
    man["gen"] = gen
    fd, tmp = tempfile.mkstemp(dir=root, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(man, fh)
        os.replace(tmp, os.path.join(root, "CURRENT"))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    for table, (_df, touched) in updates.items():
        for s in touched:
            keep = {gname}
            pg = prev_ref[table].get(str(s))
            if pg is not None:
                keep.add(f"g{pg:09d}")
            d = os.path.join(root, table, f"shard={s}")
            for e in os.listdir(d):
                if e.startswith("g") and e not in keep:
                    shutil.rmtree(os.path.join(d, e), ignore_errors=True)


# how often _champion_maintain folds the append-only ledgers' accumulated
# per-batch files back down (VERDICT r10 #3: appends are one file per
# partition per batch, so a nightly job otherwise grows file counts
# linearly forever); 0 disables the automatic pass (tests drive it
# directly)
_LEDGER_COMPACT_EVERY_ENV = "KB_LEDGER_COMPACT_EVERY"
_LEDGER_COMPACT_EVERY_DEFAULT = 16


def _compact_flat_ledger(
    spark: SparkSession, d: str, max_files: int = 4
) -> int:
    """Compact a FLAT append-only ledger dir (edges/, stats/) holding more
    than ``max_files`` parquet files: stage the listed files' rows as
    size-targeted compacted files, move them in (unique names, each an
    atomic rename), then delete exactly the listed originals.  A crash
    between move-in and delete leaves duplicate ROWS, never lost ones —
    benign here by the same argument as batch replay (every consumer of
    these ledgers dedups: edges feeds CC through .distinct(), stats is
    read dropDuplicates) — and the next pass folds them away.  A crash
    BEFORE move-in can abandon a ``.compact_<uuid>`` stage dir; each
    pass sweeps leftover siblings before staging (ADVICE r11).  Returns
    the number of files retired.

    ``repartition`` (a shuffle), not ``coalesce``: coalesce would fuse
    the read into the n_out write tasks, serializing a large ledger's
    scan through a handful of tasks — the shuffle spreads the read
    across the cluster and only the write is n_out-wide (VERDICT r11
    #4; the shuffle costs one extra pass over data that is being
    rewritten anyway)."""
    import glob
    import os
    import shutil
    import uuid

    if not os.path.isdir(d):
        return 0
    for leftover in glob.glob(f"{d}.compact_*"):
        shutil.rmtree(leftover, ignore_errors=True)
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    if len(files) <= max_files:
        return 0
    paths = [os.path.join(d, f) for f in files]
    total = sum(os.path.getsize(p) for p in paths)
    n_out = max(1, -(-total // (128 << 20)))  # ~128 MB target files
    stage = f"{d}.compact_{uuid.uuid4().hex[:8]}"
    spark.read.parquet(*paths).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(stage)
    tag = uuid.uuid4().hex[:8]
    for i, f in enumerate(sorted(os.listdir(stage))):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(stage, f),
                os.path.join(d, f"compact-{tag}-{i:05d}.parquet"),
            )
    for p in paths:
        os.unlink(p)
    shutil.rmtree(stage, ignore_errors=True)
    return len(files)


def champion_ledger_compact(spark: SparkSession, base: str) -> dict[str, int]:
    """Fold the champion pipeline's append-only ledgers back to O(1) files
    per partition (VERDICT r10 #3: without this, docs/ gains one file per
    partition per batch, bands/tail and edges/stats one file per batch —
    unbounded listing/footer cost for a nightly job).  bands/ folds its
    flat tail into the lp-partitioned base snapshot (bucket_ledger_fold,
    round 12 — shared with the near-dup gate); docs/ reuses the keyed
    sink's compaction discipline (sinks/compaction.py: candidates from
    directory METADATA, dynamic partition overwrite rewrites only
    fragmented partitions, one shuffle keyed on the partition column ->
    one file each); the flat ledgers go through the staged
    move-in/delete pass above.  Runs at a batch
    boundary (foreachBatch serializes batches, so no append races it);
    contents are row-identical before and after, so any downstream query
    is unchanged."""
    from knowledgebot_spark.sinks.compaction import compact_keyed_table

    out = {"bands": 0, "docs": 0, "edges": 0, "stats": 0}
    out["bands"] = bucket_ledger_fold(
        spark, f"{base}/bands", _BANDS_PARTS
    )
    if _has_parquet_partitioned(f"{base}/docs"):
        out["docs"] = compact_keyed_table(spark, f"{base}/docs", ("dp",))
    out["edges"] = _compact_flat_ledger(spark, f"{base}/edges")
    out["stats"] = _compact_flat_ledger(spark, f"{base}/stats")
    return out


def rebuild_nodes_index(spark: SparkSession, snap_root: str) -> int:
    """Backfill the node-keyed index for a snapshot that predates it (the
    migration _champion_refresh's guard points at): read the committed
    labels table ONCE — a full-table maintenance read, the one-off cost
    the per-batch path then never pays again — reshard the same (node,
    label) rows by pmod(node, P), and commit them as the ``nodes`` table
    through the ordinary atomic manifest flip.  Idempotent (re-running
    commits identical content at the next generation); crash-safe by the
    _manifest_commit discipline.  Returns the number of rows indexed."""
    from pyspark.sql import functions as F

    man = _manifest_load(snap_root)
    if man is None:
        return 0  # nothing committed: the next batch bootstraps normally
    n_shards = man["n_shards"]
    labels = _manifest_table_read(spark, snap_root, "labels")
    if labels is None:
        labels = spark.createDataFrame([], "node BIGINT, label BIGINT")
    nodes = labels.select("node", "label").withColumn(
        "_shard", F.pmod(F.col("node"), F.lit(n_shards)).cast("int")
    ).persist()
    n = nodes.count()
    _manifest_commit(
        snap_root, {"nodes": (nodes, set(range(n_shards)))}, n_shards
    )
    nodes.unpersist()
    return n


def _docs_probe_partition_values(cand_ids: DataFrame, n_dp: int) -> list[str]:
    """Partition-filter literals for the docs-ledger probe, as STRINGS:
    partition-column type inference is pinned off engine-wide
    (registry._REQUIRED_CONFS), so the dp partition column reads back as
    string and string literals are the exact-type match — file-level
    pruning never rides on cast-through-IN coercion (ADVICE r10 #2; the
    round-11 review verified int literals plan as
    ``cast(dp as bigint) IN (...)``, the coercion, while strings plan
    cast-free).  The values are canonical int renderings of pmod, so
    str() is collision-free.  Module-level so the pruning test pins the
    PRODUCTION literal derivation, not its own copy."""
    from pyspark.sql import functions as F

    return [
        str(int(r[0]))
        for r in cand_ids.select(
            F.pmod("doc_id", F.lit(n_dp)).cast("int").alias("dp")
        )
        .distinct()
        .collect()
    ]


def _champion_maintain(base: str, batch: DataFrame, batch_id: int) -> None:
    """One micro-batch of incremental champion maintenance — module-level so
    tests can drive batches (and re-deliveries) directly.

    State under ``base``:
      bands/  (band, bv, doc_id) LSH bucket membership as an LSM pair
              (round 12, the near-dup gate's discipline): batches
              append FLAT to bands/tail (no hot-path shuffle), and the
              scheduled compaction folds the tail into a bands/base
              snapshot PARTITIONED BY lp = pmod(xxhash64(band, bv),
              _BANDS_PARTS) behind an atomic CURRENT flip
              (bucket_ledger_fold).  The per-batch collision probe is a
              band/bv-keyed equi-join whose base SCAN prunes to
              partitions that can hold one of the batch's own buckets —
              previously the champion path's last corpus-scale per-batch
              read — plus the bounded tail.
      docs/   (doc_id, shingles, n_chars) PARTITIONED BY
              pmod(doc_id, _DOCS_PARTS) — append-only verification
              features.  The ONLY corpus-scale state a batch touches; the
              partition-key filter prunes the probe's SCAN to partitions
              that can hold a candidate, and rows enter joins only
              through the candidate-id semi join (below) — the full
              shingle set never enters any join, and a sparse batch never
              reads the full doc_id spine.
      edges/  (id_a, id_b) — append-only VERIFIED near-dup pairs: the
              durable ground truth (a full rebuild or audit replays CC
              over it), never read on the per-batch path.
      stats/  (doc_id, n_chars) — append-only, NEW-EDGE ENDPOINTS only,
              so it is edge-bounded (VERDICT r09 #1: the champion refresh
              reads this, never the docs ledger).
      snap/   the maintained labels + champions tables (sharded by
              pmod(label, _SNAP_SHARDS)) plus the node-keyed
              index ``nodes`` — the same (node, label) rows sharded by
              pmod(node, ·) so the contraction join reads only shards
              that can hold a batch endpoint (round 11) — committed via
              ONE staged, atomically flipped manifest
              (_manifest_commit): a batch reads and rewrites only
              shards containing touched labels / touched member nodes,
              and the tables can never be observed out of step (no
              partial-table window, no inter-table window, idempotent
              under replay).

    Per batch: only the BATCH is shingled/minhashed; candidate pairs are
    bucket collisions between the batch and the band ledger; exact Jaccard
    verification reads only candidate docs (semi join); and the refresh is
    DELTA-CC (VERDICT r09 #2 / SCALING.md's named next step): new edges
    CONTRACT through the previous label snapshot into an increment-sized
    label graph (an edge between components, not documents; edges internal
    to one component vanish), the label graph is solved by a driver-side
    union-find (distributed alternating-star past
    _DELTA_CC_DRIVER_MAX), and only members of TOUCHED components
    re-label through one keyed join — untouched components and their
    champion rows carry over verbatim, and the election window runs over
    touched clusters only.  Per-batch merge cost is therefore bounded by
    |new edges| + |touched-component members|, not by the corpus and not
    by the accumulated duplicate graph.  Measured at 10x (SCALING.md
    round-10): a 1.1% batch maintains in 10.8 s vs 30.9 s one-shot, same
    ambient as round 9's 11.3 s-vs-30.9 s full-CC refresh but with the
    refresh itself down from ~5.7 s to ~1 s of driver union-find +
    commits.

    The labels rewrite, full-table in r09 (near-dup-NODE-bounded, the
    widest write in the refresh), is now SHARDED (round 10, cashing that
    docstring's own "at 100 TB shard it by pmod(label, P)" note): only
    shards containing touched labels are read or rewritten, per-shard
    generations behind the one manifest (the K2 delete-by-prefix
    discipline, composed with snapshot versioning).

    Re-delivery safe end-to-end: ledger appends are duplicate-insensitive
    (everything downstream reads .distinct()/dropDuplicates), a replayed
    batch recomputes the identical new-edge set, finds its endpoints'
    components already merged, and the delta merge + snapshot commits are
    fixpoints (proven by the re-delivery and out-of-order tests in
    tests/test_round9_ops.py, and the delta-vs-full equality test in
    tests/test_round10_ops.py).
    Reference provenance: the incremental-ingest loop is the reference's
    checkpointed scan (KnowledgeBot.py:460-527, S2/F1/F2); the keyed
    idempotent rewrite is the K2 upsert discipline
    (sinks/keyed_parquet.py:56)."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.queries_corpus import CLUSTER_JACCARD

    bands_dir, docs_dir = f"{base}/bands", f"{base}/docs"
    edges_dir, stats_dir = f"{base}/edges", f"{base}/stats"
    snap_root = f"{base}/snap"
    sp_sess = batch.sparkSession

    hashed = batch.select(
        "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    bands = dd.lsh_bands(dd.with_minhash(hashed), "doc_id").persist()
    batch_docs = (
        dd.with_shingles(batch.select("doc_id", "text", "n_chars"), "text")
        .select("doc_id", "shingles", "n_chars")
        .persist()
    )
    seen_bands = bands
    # LSM bucket-sharded ledger (round 12, shared with the near-dup
    # gate): the folded base is PARTITIONED BY lp = pmod(xxhash64(band,
    # bv), _BANDS_PARTS), so the probe SCAN prunes to partitions
    # that can hold one of the batch's own buckets — exact, because a
    # collision shares the (band, bv) bucket and lp is a pure function
    # of it.  This was the champion path's last corpus-scale per-batch
    # read (the old per-band partitioning organized the scan but could
    # not bound it).  The flat tail (bounded by the compaction cadence)
    # is read whole; band/bv ride as DATA columns with native types.
    bands_base = _snapshot_current(f"{bands_dir}/base")
    if bands_base:
        # probe literals use the n_lp recorded at fold time — a silent
        # mismatch would misprune and admit near-dups (ADVICE r12)
        n_bp = _ledger_recorded_n_lp(f"{bands_dir}/base", _BANDS_PARTS)
        lps = _bucket_probe_partition_values(bands, n_bp)
        seen_bands = seen_bands.unionByName(
            sp_sess.read.parquet(bands_base)
            .filter(F.col("lp").isin(lps))  # file-level partition pruning
            .select("band", "bv", "doc_id")
        )
    if _has_parquet(f"{bands_dir}/tail"):
        seen_bands = seen_bands.unionByName(
            sp_sess.read.parquet(f"{bands_dir}/tail").select(
                "band", "bv", "doc_id"
            )
        )
    # candidates TOUCHING this batch: bucket collision between a batch doc
    # and anything seen (incl. the batch itself).  Pairs among previously
    # seen docs were discovered when their second member arrived, so the
    # accumulated edge ledger converges to the full-corpus pair set.
    cand = (
        seen_bands.select("band", "bv", F.col("doc_id").alias("id_x"))
        .join(bands.select("band", "bv", F.col("doc_id").alias("id_y")), ["band", "bv"])
        .filter(F.col("id_x") != F.col("id_y"))
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .distinct()
        # the band join is the batch's one ledger-scale probe; it feeds the
        # verify pairs, the endpoint-id prune, AND (via jaccard_verify's own
        # semi join) two more subtrees — persist so it runs once, not 4x
        .persist()
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # verify probe, candidate-pruned BEFORE any shingle enters a join
    # (VERDICT r09 #1): ledger rows survive only through the semi join on
    # candidate ids, so join width tracks candidates, not the corpus; and
    # because the ledger is PARTITIONED BY pmod(doc_id, _DOCS_PARTS)
    # (round 10), the partition-key isin filter prunes the SCAN to
    # partitions that can hold a candidate — a sparse batch reads a few
    # files, not the doc_id spine.  (At 100 TB, raise the partition count;
    # past that, a key-value store is the next step.)
    probe = batch_docs
    if _has_parquet_partitioned(docs_dir):
        dps = _docs_probe_partition_values(cand_ids, _DOCS_PARTS)
        probe = (
            sp_sess.read.parquet(docs_dir)
            .filter(F.col("dp").isin(dps))  # file-level partition pruning
            .drop("dp")
            .join(cand_ids, "doc_id", "left_semi")
            .unionByName(batch_docs)
        )
    # no dropDuplicates here: duplicate probe rows only arise on crash
    # replay (batch docs already appended to the ledger) and every
    # downstream consumer dedups (new_edges .distinct(), stats ledger read
    # dropDuplicates) — the wide shuffle would be pure cost
    probe = probe.persist()
    verified = dd.jaccard_verify(cand, probe.select("doc_id", "shingles"), "doc_id")
    # localCheckpoint, NOT persist: the ledger appends below write to the
    # same paths this lineage READS (docs/, bands/), and Spark invalidates
    # any cache whose plan touches a written path — a persist() here gets
    # dropped at the first append and every later consumer silently
    # re-runs the whole verify pipeline (measured: +6 s per batch at 10x).
    # Checkpointing truncates the lineage so the edge set is immune to the
    # invalidation; fail-stop under executor loss is the documented local
    # trade (operators/ranking.py)
    # lazy: the count() immediately below is the materializing action, so
    # checkpoint + count run as ONE job instead of two — and it completes
    # BEFORE any ledger append, preserving the invalidation immunity
    new_edges = (
        verified.filter(F.col("jaccard") >= CLUSTER_JACCARD)
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_new = new_edges.count()
    new_edges.write.mode("append").parquet(edges_dir)
    # stats ledger: endpoints of new edges only — edge-bounded by
    # construction, and their n_chars ride along from the verify probe
    # (no extra corpus read)
    ends = (
        new_edges.select(F.col("id_a").alias("doc_id"))
        .union(new_edges.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    probe.select("doc_id", "n_chars").join(ends, "doc_id", "left_semi").write.mode(
        "append"
    ).parquet(stats_dir)
    # flat tail append — no shuffle, no partition fan-out on the hot
    # path (a direct lp-partitioned append measured +1.4 s/batch at 10x
    # from the 64-way file fan-out); the scheduled fold below moves the
    # rows into the pruned base
    bands.write.mode("append").parquet(f"{bands_dir}/tail")
    # the docs ledger is doc_id-partitioned so the verify probe above can
    # prune its scan; one file per partition per batch (the bands
    # repartition discipline)
    batch_docs.withColumn(
        "dp", F.pmod("doc_id", F.lit(_DOCS_PARTS)).cast("int")
    ).repartition("dp").write.partitionBy("dp").mode("append").parquet(docs_dir)
    bands.unpersist()
    batch_docs.unpersist()

    every = int(
        os.environ.get(
            _LEDGER_COMPACT_EVERY_ENV, str(_LEDGER_COMPACT_EVERY_DEFAULT)
        )
    )

    def _maybe_compact() -> None:
        if every and batch_id and batch_id % every == 0:
            champion_ledger_compact(sp_sess, base)

    if n_new == 0:
        # nothing can have changed: labels and champions carry over as-is
        cand.unpersist()
        probe.unpersist()
        _maybe_compact()
        return

    # --- delta-CC refresh: merge only components touched by new edges ----
    # (inputs from here on are edge/label-bounded, never the corpus; the
    # session's shuffle sizing + AQE coalescing handle the small shuffles —
    # an experiment pinning them to 8 partitions LOST time on the dense
    # stress set, whose touched subgraph is ~1e5 edges)
    _champion_refresh(sp_sess, new_edges, stats_dir, snap_root)
    cand.unpersist()
    probe.unpersist()
    _maybe_compact()


# contracted label-graph rows above which _champion_refresh solves the
# delta CC distributed instead of by driver-side union-find
_DELTA_CC_DRIVER_MAX = 2_000_000


def _champion_refresh(
    sp_sess: SparkSession,
    new_edges: DataFrame,
    stats_dir: str,
    snap_root: str,
) -> None:
    """Delta-CC + affected-cluster election + ONE sharded manifest commit —
    the edge/label-bounded tail of _champion_maintain.

    The merge works on the CONTRACTED label graph: each new edge's
    endpoints map through the previous label snapshot (a node keeps its
    own id when previously unlabeled), so an edge becomes a link between
    component ids; edges internal to one component contract away
    entirely.  The contracted graph is increment-bounded (<= |new edges|
    rows), so the solver is a driver-side union-find — microseconds, and
    it kills the per-round Spark-job overhead that dominates an
    alternating-star pass at delta scale — with the distributed
    alternating-star as the automatic fallback past
    _DELTA_CC_DRIVER_MAX rows (a batch so dirty its delta graph rivals
    a corpus CC is exactly the case the full algorithm exists for).
    Either solver yields the same (key -> min-id final label) mapping;
    member rows of touched components then re-label through ONE keyed
    join, untouched components never move.

    The maintained state is THREE shardings of two logical tables behind
    one manifest: ``labels`` (node -> label) sharded by pmod(label, P) —
    member relabeling and carry-over are label-shard-local because a
    component's rows colocate; ``nodes`` — the SAME (node, label) rows
    sharded by pmod(node, P) (round 11, VERDICT r10 #2): the contraction
    join's endpoint lookup reads only node shards that can hold a batch
    endpoint, killing the last full-table read on the delta path; and
    ``champions`` sharded by pmod(cluster_id, P).  Per batch, only
    shards containing a touched label / a touched member node are READ
    and REWRITTEN — the per-batch maintained-table I/O is
    |touched shards| x shard size + increment, not the table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators import dedup as dd

    n_shards = _SNAP_SHARDS

    def _with_shard(df: DataFrame, key: str) -> DataFrame:
        return df.withColumn(
            "_shard", F.pmod(F.col(key), F.lit(n_shards)).cast("int")
        )

    prev_t = None  # shard-local labels read (delta path only)
    prev_nodes = None  # node-shard-local endpoint lookup (delta path only)
    is_bootstrap = _manifest_load(snap_root) is None
    if is_bootstrap:
        # first edges ever: CC over the batch's own (increment-sized) edges
        merged = dd.alternating_star_components(new_edges).persist()
        keep_rows = None
        aff = None
        touched = {
            int(r[0])
            for r in merged.select(
                F.pmod("label", F.lit(n_shards)).cast("int")
            )
            .distinct()
            .collect()
        }
    else:
        # endpoint labels via the NODE-sharded index: only shards that can
        # hold a batch endpoint are read (new_edges is localCheckpointed
        # and increment-sized, so this collect is a driver-cheap distinct)
        ep_shards = {
            int(r[0])
            for r in new_edges.select(
                F.pmod("id_a", F.lit(n_shards)).cast("int").alias("s")
            )
            .union(
                new_edges.select(
                    F.pmod("id_b", F.lit(n_shards)).cast("int")
                )
            )
            .distinct()
            .collect()
        }
        man = _manifest_load(snap_root)
        if "nodes" not in man.get("tables", {}):
            # a committed snapshot WITHOUT the node index (written by a
            # pre-round-11 engine) must fail loudly: silently treating
            # its labeled nodes as brand-new would duplicate label rows
            # and split champions — the same silent-empty corruption
            # class as a lost generation dir (ADVICE r10 #1)
            raise ValueError(
                f"snapshot at {snap_root} has no 'nodes' index table — "
                "it predates the node-keyed index; rebuild the snapshot "
                "(or backfill nodes from labels) before resuming"
            )
        prev_nodes = _manifest_table_read(sp_sess, snap_root, "nodes", ep_shards)
        if prev_nodes is None:  # index committed, but no endpoint shard known
            prev_nodes = sp_sess.createDataFrame([], "node BIGINT, label BIGINT")
        prev_nodes = prev_nodes.persist()
        la = prev_nodes.select(
            F.col("node").alias("id_a"), F.col("label").alias("la")
        )
        lb = prev_nodes.select(
            F.col("node").alias("id_b"), F.col("label").alias("lb")
        )
        label_edges = (
            new_edges.join(la, "id_a", "left")
            .join(lb, "id_b", "left")
            .select(
                F.coalesce("la", F.col("id_a")).alias("ka"),
                F.coalesce("lb", F.col("id_b")).alias("kb"),
                F.col("la").isNotNull().alias("a_old"),
                F.col("lb").isNotNull().alias("b_old"),
            )
            .filter(F.col("ka") != F.col("kb"))
            .distinct()
        )
        # count first, collect from cache only when under the cap: a
        # limit().collect() here would run CollectLimit's PROGRESSIVE jobs
        # (1, 4, 16... partitions), re-executing the contraction joins per
        # step — measured 6 s of pure re-execution at 10x
        label_edges = label_edges.persist()
        n_label_edges = label_edges.count()
        edges_local = (
            [] if n_label_edges > _DELTA_CC_DRIVER_MAX else label_edges.collect()
        )
        if n_label_edges == 0:
            label_edges.unpersist()
            # every new edge was internal to an existing component:
            # labels, nodes, stats, and champions are all already correct
            prev_nodes.unpersist()
            return
        if n_label_edges > _DELTA_CC_DRIVER_MAX:
            # a delta graph rivaling a corpus CC: solve it distributed.
            # A contraction key is a previously-committed LABEL exactly
            # when its endpoint row carried one (a_old/b_old): an
            # unlabeled node's own id can never collide with an existing
            # label, because every label is the min MEMBER id of a
            # labeled component — so the flags fully classify keys and
            # no snapshot join is needed here (round 11: this was the
            # distributed path's own full labels-table read).
            contracted = dd.alternating_star_components(
                label_edges.select("ka", "kb")
            )
            relabel = contracted.select(
                F.col("node").alias("key"), F.col("label").alias("final")
            ).persist()
            old_keys_df = (
                label_edges.filter("a_old").select(F.col("ka").alias("key"))
                .union(
                    label_edges.filter("b_old").select(F.col("kb").alias("key"))
                )
                .distinct()
            )
            aff = (
                relabel.join(old_keys_df, "key", "left_semi")
                .select(F.col("key").alias("label"))
                .persist()
            )
            new_node_rows = relabel.join(
                old_keys_df, "key", "left_anti"
            ).select(F.col("key").alias("node"), F.col("final").alias("label"))
            touched = {
                int(r[0])
                for r in aff.select(
                    F.pmod("label", F.lit(n_shards)).cast("int").alias("s")
                )
                .union(
                    relabel.select(F.pmod("final", F.lit(n_shards)).cast("int"))
                )
                .union(
                    new_node_rows.select(
                        F.pmod("label", F.lit(n_shards)).cast("int")
                    )
                )
                .distinct()
                .collect()
            }
        else:
            parent: dict[int, int] = {}
            keys: set[int] = set()
            old_keys: set[int] = set()

            def _find(x: int) -> int:
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for row in edges_local:
                keys.add(row.ka)
                keys.add(row.kb)
                if row.a_old:
                    old_keys.add(row.ka)
                if row.b_old:
                    old_keys.add(row.kb)
                ra, rb = _find(row.ka), _find(row.kb)
                if ra != rb:
                    # min-root wins: keeps "label = min member id" exact
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            # EVERY key needs a mapping row, including group roots (their
            # identity rows carry the root component's members into the
            # merged set so the election sees full membership); keys never
            # labeled before are brand-new near-dup nodes, resolved here on
            # the driver instead of via two more snapshot joins
            relabel = sp_sess.createDataFrame(
                sorted((k, _find(k)) for k in old_keys),
                "key BIGINT, final BIGINT",
            ).persist()
            aff = sp_sess.createDataFrame(
                [(k,) for k in sorted(old_keys)], "label BIGINT"
            ).persist()
            new_node_rows = sp_sess.createDataFrame(
                sorted((k, _find(k)) for k in keys - old_keys),
                "node BIGINT, label BIGINT",
            )
            # shards of previously-committed touched labels + of every
            # final label, driver-side — no Spark job.  (New nodes' OWN
            # ids don't touch a shard: their rows land at the final
            # label's shard.)
            touched = {k % n_shards for k in old_keys} | {
                _find(k) % n_shards for k in keys
            }
        # member rows of touched components re-label through one keyed join,
        # read SHARD-LOCALLY: only shards containing a touched label enter
        prev_t = _manifest_table_read(sp_sess, snap_root, "labels", touched)
        if prev_t is None:
            # every touched shard was previously absent (brand-new nodes)
            keep_rows = None
            merged = new_node_rows.persist()
        else:
            prev_t = prev_t.persist()
            keep_rows = prev_t.join(
                F.broadcast(relabel), prev_t.label == relabel.key, "left_anti"
            )
            moved = prev_t.join(
                F.broadcast(relabel), prev_t.label == relabel.key
            ).select("node", F.col("final").alias("label"))
            merged = moved.unionByName(new_node_rows).persist()
    # replacement content for the touched label shards: same-shard rows of
    # untouched components verbatim + relabeled members + new nodes
    labels_update = _with_shard(
        merged if keep_rows is None else keep_rows.unionByName(merged), "label"
    )

    # --- champion election over MERGED clusters only ----------------------
    stats = (
        sp_sess.read.parquet(stats_dir)
        .dropDuplicates(["doc_id"])
        .join(merged.select(F.col("node").alias("doc_id")), "doc_id", "left_semi")
    )
    joined = merged.join(stats, merged.node == stats.doc_id).select(
        F.col("label").alias("cluster_id"), "doc_id", "n_chars"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wsz = Window.partitionBy("cluster_id")
    ranked = joined.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wsz).alias("cluster_size"),
    )
    new_champ_rows = ranked.filter(F.col("rn") == 1).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("doc_id").cast("bigint").alias("champion_doc_id"),
        F.col("n_chars").cast("bigint").alias("champion_n_chars"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
    )
    # champions share the touched shard set (cluster_id == a member label,
    # so drops land in aff's shards and adds in the finals' shards) and are
    # read shard-locally too
    old_champs = _manifest_table_read(sp_sess, snap_root, "champions", touched)
    if old_champs is None:
        champs_update = new_champ_rows
    else:
        # merged components absorb their old cluster ids: within the
        # touched shards, drop every champion row whose cluster was
        # touched, keep the rest verbatim.  (The r09 full-table semi join
        # against the committed label set is gone: it defended a replay
        # after a crash BETWEEN the labels flip and the champions flip,
        # and the single-manifest commit makes that interleaving
        # structurally impossible.)
        drop = (
            aff.withColumnRenamed("label", "cluster_id")
            if aff is not None
            else new_champ_rows.select("cluster_id")
        )
        champs_update = old_champs.join(
            F.broadcast(drop), "cluster_id", "left_anti"
        ).unionByName(new_champ_rows)
    champs_update = _with_shard(champs_update, "cluster_id")
    # the node-keyed index (same rows as labels, sharded by pmod(node, P))
    # rewrites only node shards holding a member whose label changed;
    # same-shard rows of untouched members carry over verbatim
    node_shards = {
        int(r[0])
        for r in merged.select(F.pmod("node", F.lit(n_shards)).cast("int"))
        .distinct()
        .collect()
    }
    if is_bootstrap:
        # bootstrap claw-back (VERDICT r11 #3): the bootstrap batch's
        # nodes table is labels row-for-row, so folding it into the one
        # staged write pushes the FULL row set through the exchange
        # twice, null-padded to the union width (the measured +12%).
        # Commit labels+champions in the hot job, then the nodes index
        # as an immediate second commit from the still-persisted merged
        # frame — narrow 3-column rows, half the hot-exchange volume.
        # A crash between the flips leaves a labels-only snapshot: the
        # next refresh raises the loud no-'nodes'-index guard and
        # rebuild_nodes_index is the tested, idempotent repair — the
        # same recovery contract as a pre-round-11 snapshot.
        _manifest_commit(
            snap_root,
            {
                "labels": (labels_update, touched),
                "champions": (champs_update, touched),
            },
            n_shards,
        )
        nodes_update = _with_shard(merged.select("node", "label"), "node")
        _manifest_commit(
            snap_root, {"nodes": (nodes_update, node_shards)}, n_shards
        )
    else:
        prev_idx = _manifest_table_read(sp_sess, snap_root, "nodes", node_shards)
        if prev_idx is None:
            nodes_update = _with_shard(merged, "node")
        else:
            keep_idx = prev_idx.join(merged.select("node"), "node", "left_anti")
            nodes_update = _with_shard(keep_idx.unionByName(merged), "node")
        # ALL tables' touched shards land behind ONE atomic manifest flip
        _manifest_commit(
            snap_root,
            {
                "labels": (labels_update, touched),
                "champions": (champs_update, touched),
                "nodes": (nodes_update, node_shards),
            },
            n_shards,
        )
    merged.unpersist()
    if prev_t is not None:
        prev_t.unpersist()
    if prev_nodes is not None:
        prev_nodes.unpersist()
    if aff is not None:
        aff.unpersist()
        relabel.unpersist()
        label_edges.unpersist()


@register(
    "stream_champion_upsert",
    sql=None,  # assigned below: identical oracle to llm_dedup_champion —
               # incremental maintenance, same final answer
    tags=("streaming", "dedup", "champion", "incremental", "foreachBatch"),
)
def stream_champion_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL champion maintenance — the composition VERDICT r08 #5
    asks for: stream_neardup_gate's append-only signature ledger feeding
    llm_dedup_champion's keep-decision, so a new micro-batch updates the
    champion table WITHOUT recomputing LSH over the full corpus.  This is
    the shape a 100 TB ingest runs nightly: shingle/minhash only the new
    documents, probe the band ledger for collisions, exact-verify only the
    new candidate pairs, then DELTA-merge connected components (contract
    new edges through the label snapshot, union-find the increment-sized
    label graph, re-label only touched components' members) and re-elect
    champions for touched clusters only — per-batch cost tracks the
    increment plus the touched components, never the corpus and never the
    accumulated duplicate graph.  Champion semantics are llm_dedup_champion's verbatim
    (longest doc wins, doc_id ascending tie-break; cluster_id = min member
    id from alternating-star CC), and the final table is provably
    batch-boundary-independent: the accumulated edge set converges to the
    one-shot full-corpus pair set whatever the arrival order (edges are
    symmetric, bucket collision is monotone in the seen set), so ONE
    DuckDB oracle — the same recursive-CTE closure + champion window as
    llm_dedup_champion — hash-checks the streaming execution end-to-end.
    Re-delivery safe by construction: ledger appends are duplicate-
    insensitive (CC reads .distinct(), stats dropDuplicates), and the
    champion table is an idempotent full rewrite from ledgers (the K2
    upsert discipline, sinks/keyed_parquet.py:56) — proven by the
    re-delivery and out-of-order tests in tests/test_round9_ops.py.
    Reference provenance: the incremental-ingest loop is the reference's
    checkpointed scan (KnowledgeBot.py:460-527, S2/F1/F2) and the K2
    delete-by-prefix idempotent upsert (KnowledgeBot.py, the chunk-file
    reprocess path); the dedup/champion semantics are the engine's own
    scale additions (SURVEY.md §2.3 LLM-pipeline extras)."""
    base = _run_base("stream_champion", sf)
    ckpt = f"{base}/ckpt"

    def _maintain(batch: DataFrame, batch_id: int) -> None:
        _champion_maintain(base, batch, batch_id)

    stream = sp.read_documents_stream(spark, sf)
    # scan-split floor only: per-batch side reads (bands base/tail, docs
    # ledger, snapshots) are batch-bounded, where the session's 32-way
    # minPartitionNum floor turns each tiny read into near-empty tasks;
    # shuffle width stays at the session value because pinning the
    # delta-CC shuffles to 8 was a measured LOSS on the dense stress set,
    # and AQE stays ON because its coalescing carries those session-width
    # shuffles (AQE-off A/B'd round 13: lost 2 of 3 pairs, means
    # 15.9 -> 17.2 s — unlike the gate/pack paths, where it won 14/14)
    with sp.micro_batch_confs(spark, keys=("spark.sql.files.minPartitionNum",)):
        q = (
            stream.writeStream.foreachBatch(_maintain)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _champion_table(spark, base).orderBy("cluster_id")


def _champion_table(spark: SparkSession, base: str) -> DataFrame:
    """The maintained champion table at its committed manifest (an empty
    typed frame before the first commit)."""
    df = _manifest_table_read(spark, f"{base}/snap", "champions")
    if df is None:
        return spark.createDataFrame([], _CHAMPION_SCHEMA)
    return df.select(
        "cluster_id", "champion_doc_id", "champion_n_chars",
        "cluster_size", "n_dropped",
    )


def _labels_table(spark: SparkSession, base: str) -> DataFrame | None:
    """The maintained (node, label) table at its committed manifest — the
    reader tests use to compare delta-CC output against a full CC run."""
    df = _manifest_table_read(spark, f"{base}/snap", "labels")
    return df.select("node", "label") if df is not None else None


def _assign_champion_oracle() -> None:
    # import for the registration side effect: a DIRECT import of this
    # module (tests, tooling) must not depend on registry.load()'s module
    # order having run first
    import knowledgebot_spark.queries_corpus  # noqa: F401

    from knowledgebot_spark import registry as _reg

    _reg._REGISTRY["stream_champion_upsert"].sql = _reg._REGISTRY[
        "llm_dedup_champion"
    ].sql


_assign_champion_oracle()


# --- streaming thread-latency SLO (round 9) ------------------------------------

def _thread_latency_f2_sql() -> str:
    """kb_thread_latency's oracle WITH the F2 lag bound stated explicitly
    (0 <= reply lag <= 7 days) — the streaming join enforces that bound as
    its state-eviction rule, so the oracle must carry it too or parity
    would hold only on data whose replies never lag past the horizon
    (ADVICE r09: a dedicated oracle makes the equivalence
    data-independent, not fixture-lucky)."""
    from knowledgebot_spark import model

    return (
        model.MODEL_CTE
        + """
, lat AS (
  SELECT strftime(make_timestamp(p.ts_micros), '%Y%m%d') AS parent_date,
         r.ts_micros - p.ts_micros AS d_micros
  FROM messages r
  JOIN messages p ON r.thread_ts_micros = p.ts_micros
                 AND r.channel_id = p.channel_id
                 AND r.ts_micros >= p.ts_micros
                 AND r.ts_micros <= p.ts_micros + 604800000000::BIGINT
)
SELECT parent_date,
  CAST(count(*) AS BIGINT) AS n_replies,
  CAST(min(d_micros) AS BIGINT) AS min_micros,
  CAST(max(d_micros) AS BIGINT) AS max_micros,
  CAST((2 * sum(d_micros) + count(*)) // (2 * count(*)) AS BIGINT) AS avg_micros_half_up
FROM lat
GROUP BY parent_date
ORDER BY parent_date
"""
    )


@register(
    "stream_thread_latency",
    sql=_thread_latency_f2_sql(),
    tags=("streaming", "stream-stream-join", "watermark", "S3", "J5", "F2", "slo"),
)
def stream_thread_latency(spark: SparkSession, sf: str) -> DataFrame:
    """kb_thread_latency as a WATERMARKED STREAM-STREAM JOIN — reply
    stream x parent stream on the S3/J5 parent<->reply key, 7-day
    watermark on both sides (the F2 lookback rule as a streaming state
    bound: join state for a parent is evictable once the reply watermark
    passes parent + 7 days, so a reply lagging beyond the lookback horizon
    drops exactly like F2's batch filter would drop it; the oracle states
    the same 0..7-day bound, so the equivalence is data-independent — on
    this fixture, whose replies lag ~11 minutes, the unbounded batch
    query's numbers also reproduce exactly).  Inner stream-stream join
    rows emit as they match (no watermark finalization wait) into a
    foreachBatch PARQUET sink — the production shape (VERDICT r09 #2):
    joined rows land executor-side, per-batch idempotent, never in driver
    memory — and the day-keyed SLO aggregate (the SAME exact-integer
    half-up mean as the batch query) runs as a batch read over the sink,
    exactly the stream_champion_upsert discipline.  (A fully stream-side
    alternative is a chained-watermark day-keyed aggregate after the
    join; under availableNow its append-mode results wait on watermark
    finalization, so the sink-then-aggregate shape is also what keeps the
    oracle comparable.)  Exercises the one streaming shape the catalog's
    stream-stream row previously covered only generically (event interval
    join); this is the keyed-equality + range-bound composite with a
    derived event-time column on each side.  At 100 TB the state store
    holds <= 7 days of parent keys per partition — watermark-bounded,
    never stream-bounded.
    Reference provenance: thread parent<->reply resolution is
    KnowledgeBot.py:317-348 (S3/J5); the 7-day lookback is the reference's
    checkpoint window (F2, KnowledgeBot.py:460-527); the SLO aggregate is
    the engine's scale addition over the same keys."""
    import os

    from pyspark.sql import functions as F

    from knowledgebot_spark import model

    base = _run_base("stream_thread_latency", sf)
    src = f"{base}/messages"

    msgs = model.messages(spark, sf)
    msgs.write.parquet(src)

    def _reader():
        # KB_STREAM_MAX_FILES forces multi-batch replays in tests (same knob
        # as read_events_stream): join state must carry parents across batch
        # boundaries until the reply watermark passes parent + 7 days
        r = spark.readStream.schema(msgs.schema)
        max_files = os.environ.get("KB_STREAM_MAX_FILES")
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return r.parquet(src)

    replies = (
        _reader()
        .filter(F.col("thread_ts_micros").isNotNull())
        .select(
            F.col("channel_id").alias("r_channel_id"),
            F.col("thread_ts_micros").alias("parent_ts_micros"),
            F.col("ts_micros").alias("r_ts_micros"),
            F.timestamp_micros(F.col("ts_micros")).alias("r_evt"),
        )
        .withWatermark("r_evt", "7 days")
    )
    parents = (
        _reader()
        .select(
            "channel_id",
            "ts_micros",
            F.timestamp_micros(F.col("ts_micros")).alias("p_evt"),
        )
        .withWatermark("p_evt", "7 days")
    )
    joined = replies.join(
        parents,
        (F.col("r_channel_id") == F.col("channel_id"))
        & (F.col("parent_ts_micros") == F.col("ts_micros"))
        & (F.col("r_evt") >= F.col("p_evt"))
        & (F.col("r_evt") <= F.col("p_evt") + F.expr("INTERVAL 7 DAYS")),
        "inner",
    ).select(
        F.date_format("p_evt", "yyyyMMdd").alias("parent_date"),
        (F.col("r_ts_micros") - F.col("ts_micros")).alias("d_micros"),
    )
    lat = sp.run_to_parquet(joined, f"{base}/joined", f"{base}/ckpt")
    return (
        lat.groupBy("parent_date")
        .agg(
            F.count("*").cast("bigint").alias("n_replies"),
            F.min("d_micros").cast("bigint").alias("min_micros"),
            F.max("d_micros").cast("bigint").alias("max_micros"),
            F.expr(
                "CAST((2 * CAST(sum(d_micros) AS DECIMAL(38,0)) + count(*))"
                " div (2 * count(*)) AS BIGINT)"
            ).alias("avg_micros_half_up"),
        )
        .orderBy("parent_date")
    )


