"""Structured Streaming tests (SURVEY.md §5.2 item 4): watermark late-data
drop across micro-batches, streaming==batch parity, exactly-once
foreachBatch idempotency."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
import datetime

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from knowledgebot_spark.streaming import pipeline as sp

EVT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("key", StringType()),
        StructField("n", LongType()),
    ]
)

def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """A late row arriving after its window passed the watermark is dropped
    (numRowsDroppedByWatermark) and the already-emitted window is never
    resurrected — the F2-lookback == watermark equivalence."""
    import datetime as dt

    def t(h, m=0):
        return dt.datetime(2025, 1, 1, h, m)

    src = str(tmp_path / "src")
    os.makedirs(src)

    # batch 1: window 10:00 has 2 on-time events; max ts 12:30 -> wm 11:30
    spark.createDataFrame(
        [(t(10, 5), "a", 1), (t(10, 40), "a", 1), (t(12, 30), "b", 1)], EVT_SCHEMA
    ).coalesce(1).write.parquet(f"{src}/b1")
    time.sleep(1.1)
    # batch 2: advances wm to 12:40 -> window 10:00 is finalized + evicted
    spark.createDataFrame([(t(13, 40), "b", 1)], EVT_SCHEMA).coalesce(1).write.parquet(
        f"{src}/b2"
    )
    time.sleep(1.1)
    # batch 3: one LATE row for the closed window + one fresh row
    spark.createDataFrame(
        [(t(10, 50), "a", 1), (t(15, 0), "b", 1)], EVT_SCHEMA
    ).coalesce(1).write.parquet(f"{src}/b3")

    stream = (
        spark.readStream.schema(EVT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*/")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "n_events")
    )
    out = sp.run_to_memory(agg, "append", table="late_test")
    got = dict(sorted((r.h, r.n_events) for r in out.collect()))
    # the closed 10:00 window emitted exactly its 2 on-time rows, once; the
    # late 10:50 row appears nowhere
    assert got["10:00"] == 2
    assert sum(n for h, n in got.items() if h == "10:00") == 2


def test_streaming_matches_batch(spark, sf_dir):
    got_stream = sp.run_to_memory(
        sp.tumbling_counts(sp.read_events_stream(spark, sf_dir)), "complete"
    )
    from knowledgebot_spark.tables import read_table

    e = read_table(spark, sf_dir, "events")
    got_batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    assert sorted(map(tuple, got_stream.collect())) == sorted(
        map(tuple, got_batch.collect())
    )


def test_foreach_batch_sink_exactly_once(spark, tmp_path):
    # replaying the same micro-batch through the keyed sink is a no-op
    # (idempotent MERGE == exactly-once effect under at-least-once delivery)
    from knowledgebot_spark.sinks.keyed_parquet import upsert_chunks

    path = str(tmp_path / "tbl")
    batch = spark.createDataFrame(
        [("k1", "general", "20250101", 1, "v")],
        "msg_key string, channel_name string, msg_date string, snippet_no bigint, content string",
    )
    upsert_chunks(spark, path, batch)
    upsert_chunks(spark, path, batch)  # simulated retry of the same batch id
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0].content == "v"


def test_streaming_extraction_spine_foreach_batch(spark, tmp_path):
    """The M1 spine running as a real streaming job: file-source messages ->
    foreachBatch keyed upsert -> chunk table (M5 exactly-once path)."""
    from knowledgebot_spark.operators import extraction as ex

    src = str(tmp_path / "msgs")
    os.makedirs(src)
    msg_schema = (
        "channel_id string, ts_raw string, ts_micros bigint, full_text string"
    )
    spark.createDataFrame(
        [
            ("C1", "1.000000", 1_000_000, "#KNOWLEDGE alpha #END"),
            ("C1", "2.000000", 2_000_000, "no tags"),
        ],
        msg_schema,
    ).coalesce(1).write.parquet(f"{src}/b1")

    users = spark.createDataFrame([("U1", "A")], ["user_id", "real_name"])

    stream = spark.readStream.schema(
        "channel_id string, ts_raw string, ts_micros bigint, full_text string"
    ).parquet(f"{src}/b*/")
    out_path = str(tmp_path / "chunk_tbl")
    ck_path = str(tmp_path / "ckpt")

    from knowledgebot_spark.sinks.keyed_parquet import upsert_chunks

    def _sink(batch, batch_id):
        keyed = ex.with_msg_key(batch)
        chunks = ex.extract_blocks(keyed).select(
            "msg_key",
            F.col("channel_id").alias("channel_name"),
            F.lit("20250101").alias("msg_date"),
            "snippet_no",
            "content",
        )
        reprocessed = keyed.select(
            "msg_key",
            F.col("channel_id").alias("channel_name"),
            F.lit("20250101").alias("msg_date"),
        ).distinct()
        upsert_chunks(batch.sparkSession, out_path, chunks, reprocessed_keys=reprocessed)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ck_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_path).collect()
    assert len(got) == 1 and got[0].content == "alpha"


def test_stream_stream_join_boundaries(spark, tmp_path):
    """Interval-join bound semantics: (ts_b > ts_a) strict lower,
    (ts_b <= ts_a + 10min) inclusive upper — probed with events exactly ON
    each bound (the catalog query's oracle is near-vacuous at tiny SF)."""
    import datetime as dt

    def t(m, s=0):
        return dt.datetime(2025, 1, 1, 12, m, s)

    src = str(tmp_path / "ev")
    rows = [
        (1, t(0), 7, "click", 1.0, None),
        (2, t(0), 7, "purchase", 1.0, None),      # == ts_a: excluded (strict >)
        (3, t(10), 7, "purchase", 1.0, None),     # == ts_a+10min: included (<=)
        (4, t(10, 1), 7, "purchase", 1.0, None),  # 1s past bound: excluded
        (5, t(5), 8, "purchase", 1.0, None),      # other user: excluded
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    ).coalesce(1).write.parquet(src)

    clicks = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .parquet(src)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(F.col("event_id").alias("id_a"), "user_id", F.col("ts").alias("ts_a"))
    )
    purchases = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .parquet(src)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
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
    ).select("id_a", "id_b")
    out = sp.run_to_memory(joined, "append")
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == [(1, 3)]


def test_foreach_batch_upsert_tag_removal_tombstone(spark, tmp_path):
    """K2 on the streaming path: each micro-batch of the keyed stream goes
    through ``upsert_scope``, which tombstones every key the batch SAW, so
    a re-seen message whose edit removed its #KNOWLEDGE block deletes its
    stale chunks — including in a pure-tombstone batch (zero chunk
    rows)."""
    from knowledgebot_spark.incremental import upsert_scope
    from knowledgebot_spark.operators import extraction as ex

    src = str(tmp_path / "msgs")
    os.makedirs(src)
    msg_schema = (
        "channel_id string, ts_raw string, ts_micros bigint, user_id string, "
        "full_text string"
    )
    out_path = str(tmp_path / "chunk_tbl")
    ck_path = str(tmp_path / "ckpt")
    users = spark.createDataFrame([("U1", "A")], ["user_id", "real_name"])
    channels = spark.createDataFrame(
        [("C1", "general", "t", "p")], ["channel_id", "name", "topic", "purpose"]
    )
    members = spark.createDataFrame(
        [("C1", "U1", "A")], ["channel_id", "user_id", "real_name"]
    )

    def run_once():
        stream = spark.readStream.schema(msg_schema).parquet(f"{src}/b*/")
        q = (
            ex.with_msg_key(stream)
            .writeStream.foreachBatch(
                lambda batch, _id: upsert_scope(
                    batch.sparkSession, batch, users, channels, members, out_path
                )
            )
            .option("checkpointLocation", ck_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [("C1", "1.000000", 1_000_000, "U1", "#KNOWLEDGE alpha #END")], msg_schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    run_once()
    assert spark.read.parquet(out_path).count() == 1

    # edit removes the tag: same msg_key re-seen with no knowledge block —
    # this batch produces ZERO chunk rows yet must still tombstone
    spark.createDataFrame(
        [("C1", "1.000000", 1_000_000, "U1", "edited away the tag")], msg_schema
    ).coalesce(1).write.parquet(f"{src}/b2")
    run_once()
    assert spark.read.parquet(out_path).count() == 0


def test_streaming_spine_reads_each_micro_batch_once(spark, sf_dir, monkeypatch):
    """``stream_extraction_spine`` scans each micro-batch of staged
    messages once: the key frame and the chunk plan both read the batch's
    collected rows.  Micro-batch jobs run on the stream thread, out of
    reach of a job group set here, so the run is bracketed by marker jobs
    and every stage between them is inspected."""
    from pyspark.sql import DataFrameWriter

    from knowledgebot_spark import model
    from knowledgebot_spark.queries_streaming import stream_extraction_spine

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()

    def marker() -> int:
        """Run a one-task job; return its (the newest) stage id."""
        sc.setJobGroup("spine-scan-marker", "spine-scan-marker")
        try:
            spark.range(1).count()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(
            stage
            for job in tracker.getJobIdsForGroup("spine-scan-marker")
            for stage in tracker.getJobInfo(job).stageIds
        )

    def records(stage):
        try:
            return store.lastStageAttempt(stage).inputRecords()
        except Exception:  # skipped stage
            return 0

    n_msgs = model.messages(spark, sf_dir).count()
    # the first parquet write is the staging of the messages; the scans
    # counted are the ones after it
    write = DataFrameWriter.parquet
    staged = []

    def staging_write(self, *args, **kwargs):
        write(self, *args, **kwargs)
        if not staged:
            staged.append(marker())

    monkeypatch.setattr(DataFrameWriter, "parquet", staging_write)
    assert stream_extraction_spine(spark, sf_dir).count() > 0
    monkeypatch.undo()
    end = marker()
    scans = [s for s in range(staged[0] + 1, end) if records(s) == n_msgs]
    assert len(scans) == 1, (
        f"stages {scans} each read all {n_msgs} staged messages"
    )


def test_python_stream_source_replay_is_deterministic():
    """Restart safety of the streaming Python data source: replaying any
    committed offset range (readBetweenOffsets) returns exactly the rows
    the original read() produced for it — offsets alone define content."""
    from knowledgebot_spark.sources.synthetic import SyntheticEventsStreamReader

    r = SyntheticEventsStreamReader({"batches": "5", "rows_per_batch": "100"})
    start = r.initialOffset()
    rows, end = r.read(start)
    assert end == {"v": 5}
    assert list(rows) == list(r.readBetweenOffsets(start, end))
    # caught-up source reports no progress and no rows
    rows2, end2 = r.read(end)
    assert list(rows2) == [] and end2 == end


def test_stateful_v2_parity_with_v1(spark, sf_dir):
    """transformWithStateInPandas (stateful v2) must produce the same
    final totals as the applyInPandasWithState path.  Exercised only where
    google.protobuf exists (the v2 state-server wire protocol — not in
    this container); the seam is sp.stateful_totals_v2."""
    import pytest

    pytest.importorskip("google.protobuf")
    from knowledgebot_spark.streaming import pipeline as sp

    before = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = sp.read_events_stream(spark, sf_dir).selectExpr(
            "event_type", "CAST(floor(value * 100) AS BIGINT) AS cents"
        )
        v2 = sp.run_to_memory(sp.stateful_totals_v2(events), "update")
        got = {(r.event_type, r.n_events, r.sum_cents) for r in v2.collect()}
        batch = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .selectExpr("event_type", "CAST(floor(value * 100) AS BIGINT) AS cents")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("cents").alias("c"))
        )
        want = {(r.event_type, r.n, r.c) for r in batch.collect()}
        assert got == want
    finally:
        if before:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", before)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_stage_handles_directory_datasets(spark, tmp_path, sf_dir):
    """Spark-written datasets are DIRECTORIES of part files; the file-stream
    stage must flatten them (the source does not recurse into a nested
    dataset dir — it silently streamed 0 rows), and re-staging the same
    single-file target must never leave stale duplicate links (which
    silently doubled every event)."""
    from knowledgebot_spark.tables import read_table

    sfdir = str(tmp_path / "sf")
    batch = read_table(spark, sf_dir, "events").limit(1000)
    batch.repartition(4).write.parquet(f"{sfdir}/events.parquet")

    streamed = sp.run_to_memory(
        sp.read_events_stream(spark, sfdir).groupBy().count(), "complete"
    ).first()[0]
    assert streamed == 1000
    # restage same target: counts stay exact (no accumulated links)
    streamed2 = sp.run_to_memory(
        sp.read_events_stream(spark, sfdir).groupBy().count(), "complete"
    ).first()[0]
    assert streamed2 == 1000


def test_funnel_state_exact_across_adversarial_batches(spark, tmp_path):
    """The funnel operator's full-buffer state is what makes it exact under
    cross-batch disorder: a click arrives FIRST (batch 1), the earlier view
    that qualifies it arrives later (batch 2), the purchase last (batch 3).
    A minimal (t1,t2,t3)-summary operator would discard the batch-1 click
    (no view yet => too early to qualify) and finish at reached=2; the
    buffered operator must report reached=3.  User 2 checks ordering is
    enforced: its purchase PRECEDES its click, so reached stays 2."""
    funnel_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts_us", LongType()),
        ]
    )
    src = str(tmp_path / "funnel_src")
    os.makedirs(src)
    batches = [
        # user 1: click at t=200 arrives before any view is known
        [(1, "click", 200), (2, "view", 100)],
        # user 1's qualifying view (t=100) arrives AFTER its click
        [(1, "view", 100), (2, "purchase", 150)],
        # user 1 completes; user 2's click (t=300) follows its purchase
        [(1, "purchase", 500), (2, "click", 300)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, funnel_schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(funnel_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*/")
    )
    out = sp.run_to_memory(sp.funnel_reach(stream), "update", table="funnel_adv")
    reach: dict[int, int] = {}
    for r in out.collect():  # reach is monotone: max == final
        reach[r.user_id] = max(reach.get(r.user_id, 0), r.reached)
    assert reach == {1: 3, 2: 2}


def test_stream_hll_merges_across_batches(spark, tmp_path):
    """Windowed HLL sketch state must union associatively across
    micro-batches: users of one hour split over two forced batches (with
    overlap) yield one window whose estimate equals the exact distinct
    count (HLL is exact at this cardinality)."""
    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampNTZType())]
    )
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    src = str(tmp_path / "hll_src")
    os.makedirs(src)
    b1 = [(i, base + datetime.timedelta(minutes=i)) for i in range(0, 30)]
    b2 = [(i, base + datetime.timedelta(minutes=i + 1)) for i in range(20, 50)]
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*/")
    )
    sketched = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
    )
    out = sp.run_to_memory(sketched, "complete", table="hll_merge")
    ests = [round(r.est) for r in out.collect()]
    assert ests == [50]


def test_stream_zscore_matches_batch_across_ordered_batches(spark, tmp_path, sf_dir):
    """Two micro-batches split on event time (per-user in-order arrival):
    the stateful z-score flags must equal the batch window query's."""
    from knowledgebot_spark.registry import load
    from knowledgebot_spark.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    cut = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "zs_src")
    os.makedirs(src)
    base = ev.orderBy("ts", "event_id")
    for i, part in enumerate(
        [base.filter(F.col("ts") < F.lit("2024-01-15")), base.filter(F.col("ts") >= F.lit("2024-01-15"))]
    ):
        part.coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*/")
        .select(
            "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "value"
        )
    )
    out = sp.run_to_memory(sp.rolling_zscore_state(stream), "append", table="zs_two")
    got = {(r.user_id, r.event_id): r.z for r in out.collect()}
    batch = load()["rel_rolling_zscore"].fn(spark, sf_dir).collect()
    want = {(r.user_id, r.event_id): r.z for r in batch}
    assert got == want and len(got) > 0


def test_checkpoint_restart_processes_each_file_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a file-source stream with a checkpoint
    processes files 1-2, terminates, files 3-4 land, and a NEW query
    object restarted from the SAME checkpoint must pick up ONLY the new
    files — the append-ledger sink would show duplicated rows if the
    restarted query replayed committed batches (the driver restart /
    executor-loss story for every stream_* query's checkpoint usage)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    ledger = str(tmp_path / "ledger")
    ck = str(tmp_path / "ck")
    schema = "k string, v bigint"

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/{name}"
        )

    def _run():
        stream = spark.readStream.schema(schema).parquet(f"{src}/*/")
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(ledger)
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write("f1", [("a", 1), ("b", 2)])
    _write("f2", [("c", 3)])
    _run()
    first = sorted((r.k, r.v) for r in spark.read.parquet(ledger).collect())
    assert first == [("a", 1), ("b", 2), ("c", 3)]

    _write("f3", [("d", 4)])
    _write("f4", [("e", 5), ("a", 1)])  # same VALUES as an old row, new file
    _run()
    final = sorted((r.k, r.v) for r in spark.read.parquet(ledger).collect())
    # every input row exactly once — including the value-duplicate from f4,
    # which must appear exactly twice (once per source file), proving the
    # restart neither replays old files nor dedups new data
    assert final == [("a", 1), ("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5)]
