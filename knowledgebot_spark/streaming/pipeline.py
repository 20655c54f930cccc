"""Structured Streaming pipeline (SURVEY.md §7 M5, §2.3 streaming row).

The reference's incremental mode — checkpoint + 7-day lookback
(KnowledgeBot.py:110,446-450) — maps 1:1 onto Structured Streaming:

  * F2 lookback            == ``withWatermark('ts', '7 days')``
  * S8/K5 state file       == the streaming checkpoint directory
  * K2 idempotent rewrite  == idempotent ``foreachBatch`` upsert
  * at-least-once + marker == exactly-once via checkpoint + keyed sink

Queries here run file-source streams over the driver's parquet testdata
with ``Trigger.AvailableNow`` and land in a memory sink for inspection —
on a cluster the same plans run unbounded with a durable sink.  Complete
output mode keeps windowed aggregates deterministic for the DuckDB oracle
(append-mode emission depends on micro-batch boundaries; the late-data
path is exercised in tests with a two-batch replay instead).

Scale posture: windowed aggregations shuffle on (window, key) with
map-side partial aggregation; state store size is bounded by the
watermark horizon, not stream length.  The memory sink is a test harness
— 100 TB streams land via foreachBatch into the keyed parquet sink.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# events.parquet physical schema: ts is parquet TIMESTAMP(NANOS, isAdjustedToUTC
# = false).  Spark 4.1 reads that natively as TIMESTAMP_NTZ (truncating to
# micros) on both the batch and streaming paths, so the stream declares the
# same type the batch loader (tables.read_table) gets — the two paths MUST
# agree or windowed results diverge from the oracle.  (Declaring LongType
# here used to yield raw micros under 4.1 and nanos under the removed
# nanosAsLong conf — a silent unit trap; see tests/test_streaming.py's
# parity + canary tests.)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _stage_dir(sf_dir: str, table: str = "events") -> str:
    """The file stream source requires a *directory* of data files; the
    driver testdata ships a bare parquet file, while Spark-written datasets
    (e.g. the inflated stress sets) are directories of part files — the
    stream source does NOT recurse into a nested dataset directory, so a
    directory target is staged by symlinking each part file flat (silently
    streaming 0 rows otherwise).  Keyed by a hash of the FULL source path —
    two datasets sharing a basename must not share a stage — and re-staged
    whenever the target set changes (lexists also catches broken links)."""
    import hashlib

    target = os.path.abspath(f"{sf_dir.rstrip('/')}/{table}.parquet")
    if os.path.isdir(target):
        files = sorted(
            f"{target}/{f}"
            for f in os.listdir(target)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    else:
        files = [target]
    if not files:
        raise FileNotFoundError(f"no parquet data files under {target}")
    key = hashlib.md5("\n".join(files).encode()).hexdigest()[:12]
    # versioned namespace: layout changes must never share a stage with a
    # prior scheme (a stale extra link = silently duplicated events)
    stage = f"/tmp/knowledgebot_spark/stream_src/v2/{key}/{table}"
    os.makedirs(stage, exist_ok=True)
    expected = {f"part-{i:05d}.parquet": src for i, src in enumerate(files)}
    for name in os.listdir(stage):
        link = os.path.join(stage, name)
        if name not in expected or os.path.realpath(link) != expected[name]:
            os.unlink(link)
    for name, src in expected.items():
        link = os.path.join(stage, name)
        if not os.path.lexists(link):
            os.symlink(src, link)
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (S2 streaming form).

    ``ts`` arrives as TIMESTAMP_NTZ straight from the reader — no unit
    conversion, so any reader-semantics drift (a future pyspark delivering
    longs again) fails analysis loudly instead of silently shifting epochs.
    Watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and
    the session TZ is pinned UTC, so the cast is value-preserving and the
    formatted output stays identical to the batch/NTZ path.
    """
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    # KB_STREAM_MAX_FILES forces multi-batch replays in tests (AvailableNow
    # otherwise consumes every staged file in ONE batch, which would leave
    # cross-batch merge paths — e.g. stream_cdc_materialize's version
    # compaction — unexercised)
    max_files = os.environ.get("KB_STREAM_MAX_FILES")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    raw = reader.parquet(_stage_dir(sf_dir))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


DOCUMENTS_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table — the ingest feed for
    streaming corpus-curation gates (near-dup filtering at ingest).  Same
    staging/maxFilesPerTrigger mechanics as read_events_stream."""
    reader = spark.readStream.schema(DOCUMENTS_RAW_SCHEMA)
    max_files = os.environ.get("KB_STREAM_MAX_FILES")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(_stage_dir(sf_dir, "documents"))


DOCUMENTS_OOO_SCHEMA = StructType(
    DOCUMENTS_RAW_SCHEMA.fields + [StructField("arrival_seq", LongType())]
)


def _stage_ooo_documents(
    spark: SparkSession, sf_dir: str, n_waves: int, seq_base: int
) -> str:
    """Materialize the documents table as an OUT-OF-doc_id-ORDER arrival
    stream: one parquet file per "wave" (wave w = docs with
    doc_id % n_waves == w, each carrying
    arrival_seq = wave * seq_base + doc_id), with file mtimes pinned in
    wave order so Spark's FileStreamSource (which orders unseen files by
    modification time) delivers wave 0 first.  Interleaving by residue
    means every wave spans the full doc_id range — a later wave
    routinely carries a SMALLER doc_id than an earlier one, which is the
    deployment shape the ooo gate exists for.  Staged once per
    (source-set, n_waves) and reused; re-staged when the target files
    change (same keying discipline as _stage_dir).  The build lands in a
    uuid-suffixed sibling dir and is renamed into place atomically, so
    two concurrent runs (a bench racing a correctness check) can never
    observe — or corrupt — a half-built stage; the rename loser adopts
    the winner's stage and discards its own build.  This is a TEST-SHAPE
    seam: a real deployment's out-of-order feed is the ingest bus
    itself, so the staging cost (n_waves scans of the source table) is
    never on a production path."""
    import hashlib
    import uuid

    from pyspark.sql import functions as F

    target = os.path.abspath(f"{sf_dir.rstrip('/')}/documents.parquet")
    if os.path.isdir(target):
        files = sorted(
            f"{target}/{f}"
            for f in os.listdir(target)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    else:
        files = [target]
    key = hashlib.md5(
        ("\n".join(files) + f"|waves={n_waves}|base={seq_base}").encode()
    ).hexdigest()[:12]
    stage = f"/tmp/knowledgebot_spark/stream_src/v2/{key}/documents_ooo"
    done = os.path.join(stage, "_STAGED")
    expected = [f"wave-{w:05d}.parquet" for w in range(n_waves)]
    if os.path.isfile(done) and sorted(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    ) == sorted(expected):
        return stage
    build = f"{stage}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(build, exist_ok=True)
    docs = spark.read.parquet(target).withColumn(
        "arrival_seq",
        F.pmod(F.col("doc_id"), F.lit(n_waves)) * F.lit(seq_base)
        + F.col("doc_id"),
    )
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    if max_id >= seq_base:
        raise ValueError(
            f"arrival_seq would collide across waves: max doc_id {max_id} "
            f">= seq_base {seq_base}"
        )
    t0 = int(time.time()) - 2 * n_waves
    for w in range(n_waves):
        tmp = os.path.join(build, f".wave_{w}")
        docs.filter(F.pmod(F.col("doc_id"), F.lit(n_waves)) == w).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(
            f
            for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        dst = os.path.join(build, expected[w])
        os.replace(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        # pin arrival order: FileStreamSource sorts unseen files by mtime
        os.utime(dst, (t0 + 2 * w, t0 + 2 * w))
    with open(os.path.join(build, "_STAGED"), "w") as fh:
        fh.write("\n".join(expected))
    # a stale half-built stage (no valid _STAGED marker) yields to this
    # build; a COMPLETE concurrent winner is adopted instead
    if os.path.isfile(done):
        shutil.rmtree(build, ignore_errors=True)
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    try:
        os.rename(build, stage)
    except OSError:
        # lost the rename race to a concurrent builder — adopt theirs
        shutil.rmtree(build, ignore_errors=True)
    return stage


def read_documents_stream_ooo(
    spark: SparkSession, sf_dir: str, n_waves: int, seq_base: int
) -> DataFrame:
    """Out-of-order ingest feed for the first-arrival-wins gate: the
    documents table re-staged as n_waves wave files (see
    _stage_ooo_documents) delivered ONE FILE PER MICRO-BATCH, so arrival
    order (non-decreasing arrival_seq across batches) disagrees with
    doc_id order within every batch boundary."""
    return (
        spark.readStream.schema(DOCUMENTS_OOO_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_ooo_documents(spark, sf_dir, n_waves, seq_base))
    )


class micro_batch_confs:
    """Scope session confs to micro-batch-sized work for the duration of
    a foreachBatch stream run (round-13 optimization; guide §2/§6).

    Three confs are scoped and restored on exit:

    * ``spark.sql.shuffle.partitions`` -> 8: every per-batch exchange is
      over a BATCH-sized frame, so the batch-oriented session width (32
      locally, O(cores*4) on a cluster) is pure task-scheduling overhead
      per micro-batch — the same run_to_memory/run_to_parquet state-store
      rationale, applied to the foreachBatch ledger paths (gate probe
      agg, minhash agg, cumsum range-repartition).
    * ``spark.sql.files.minPartitionNum`` -> 1: the session floor exists
      so a SMALL single-file batch TABLE scans wide (session.py); inside
      a micro-batch the side reads are batch-sized ledger tails and
      one-batch state dirs, where a 32-way floor turns every tiny read
      into 32 near-empty tasks (measured 64-task union stages per gate
      batch at sf0.1).  This is only a FLOOR: at real batch sizes
      ``maxPartitionBytes`` still splits reads, so 1 is the scale-correct
      value, not a local tune.
    * ``spark.sql.adaptive.enabled`` -> false: micro-batch frames are
      trigger-bounded, so AQE's per-batch re-planning round-trip has
      nothing to optimize (Spark already refuses AQE for stateful
      streaming plans).
    """

    _PAIRS = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.minPartitionNum": "1",
        "spark.sql.adaptive.enabled": "false",
    }

    def __init__(
        self, spark: SparkSession, keys: tuple[str, ...] | None = None
    ) -> None:
        self._spark = spark
        self._before: dict[str, str] = {}
        # keys: optional subset of _PAIRS to scope — the champion path
        # scopes ONLY the scan-split floor because pinning its delta-CC
        # shuffles to 8 was a measured LOSS on the dense stress set
        self._keys = tuple(keys) if keys is not None else tuple(self._PAIRS)

    def __enter__(self) -> "micro_batch_confs":
        try:
            for key in self._keys:
                # conf.get(key, None) -> None when the conf is UNSET in this
                # session (optional confs like files.minPartitionNum on any
                # session the engine didn't build — the driver's, a
                # production caller's).  None is recorded as "restore by
                # unset", never fed back to conf.set (round-13 regression:
                # conf.set(key, None) raises IllegalArgumentException).
                self._before[key] = self._spark.conf.get(key, None)
                self._spark.conf.set(key, self._PAIRS[key])
        except BaseException:
            # roll back whatever was already applied so a partial enter
            # can't leak scoped confs into the shared session
            self._restore_all()
            raise
        return self

    def __exit__(self, *exc) -> None:
        self._restore_all()

    def _restore_all(self) -> None:
        """Restore every recorded conf, each in its own try so one failure
        cannot strand the rest un-restored (round-13 blast radius: a throw
        mid-loop leaked minPartitionNum=1 + AQE=false into the session for
        every later query).  The first error is re-raised after all keys
        have been attempted."""
        first_err: BaseException | None = None
        for key, value in self._before.items():
            try:
                if value is None:
                    self._spark.conf.unset(key)
                else:
                    self._spark.conf.set(key, value)
            except BaseException as err:  # noqa: BLE001 — restore must not stop
                if first_err is None:
                    first_err = err
        self._before.clear()
        if first_err is not None:
            raise first_err


def run_to_memory(
    stream: DataFrame, output_mode: str, table: str | None = None
) -> DataFrame:
    """Execute a streaming plan with Trigger.AvailableNow into a memory
    sink; returns the (batch) result DataFrame.

    Stateful streaming has no AQE: the state store allocates exactly
    ``spark.sql.shuffle.partitions`` partitions per operator per batch, so
    the batch-oriented 32 is pure overhead for a local replay.  The count
    is scoped to this query (state partitioning is fixed at the query's
    first batch; fresh memory-sink queries are unaffected by each other)
    and restored afterwards.
    """
    spark = stream.sparkSession
    name = table or f"mem_{uuid.uuid4().hex[:12]}"
    with micro_batch_confs(spark):
        query = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


def run_to_parquet(stream: DataFrame, out_dir: str, ckpt_dir: str) -> DataFrame:
    """Execute a streaming plan with Trigger.AvailableNow into a
    foreachBatch parquet sink; returns the landed rows as a batch
    DataFrame.  The production shape for stream output that must never
    accumulate in driver memory (VERDICT r09 #4): each micro-batch writes
    its own ``batch_id=N`` partition with overwrite, so a replayed batch
    rewrites exactly its own data (the K2 idempotent-rewrite discipline,
    sinks/keyed_parquet.py:56) and never double-counts, and the sink
    scales with executor-side parquet throughput instead of driver heap.
    Same state-store partition scoping as run_to_memory."""
    spark = stream.sparkSession

    def _sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    with micro_batch_confs(spark):
        query = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    if not (
        os.path.isdir(out_dir)
        and any(
            f.endswith(".parquet")
            for d in os.listdir(out_dir)
            for f in os.listdir(os.path.join(out_dir, d))
            if os.path.isdir(os.path.join(out_dir, d))
        )
    ):
        # over a zero-partition RDD, so the frame runs no Python worker task
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), stream.schema)
    return spark.read.parquet(out_dir).drop("batch_id")


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Same output shape as the batch rel_events_tumbling query, so the two
    share one oracle."""
    return (
        events.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    return (
        events.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Same output shape as the batch rel_events_session query."""
    return (
        events.withWatermark("ts", "7 days")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
        )
        .select(
            "user_id",
            F.date_format("min_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def distinct_pairs(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicates (state-backed).  Projecting to the key
    columns first makes the kept-row deterministic."""
    return events.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).dropDuplicates(["event_type", "event_date"])


def stateful_totals_v2(events: DataFrame) -> DataFrame:
    """Per-event-type running totals via transformWithStateInPandas — the
    Spark 4 stateful v2 API (typed ValueState handles, timers, TTL) that
    supersedes applyInPandasWithState for custom operators.

    Requires ``google.protobuf`` (the state-server wire protocol) and the
    RocksDB state store provider; this container ships neither, so the
    production path stays ``stream_stateful``'s applyInPandasWithState and
    this builder is exercised by a skip-if-absent parity test
    (tests/test_streaming.py), the same seam pattern as the tiktoken
    tokenizer.  Input: columns (event_type, cents)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self.totals.get() if self.totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self.totals.update((n, cents))
            yield pd.DataFrame(
                {"event_type": [key[0]], "n_events": [n], "sum_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="event_type string, n_events bigint, sum_cents bigint",
        outputMode="Update",
        timeMode="None",
    )


def funnel_reach(events: DataFrame) -> DataFrame:
    """Ordered-funnel reach (view -> click -> purchase) as a custom
    stateful operator, exact under ANY micro-batch split / cross-batch
    disorder.  The naive minimal summary (t1, t2, t3) is insufficient
    state — a late-arriving EARLIER view lowers t1 and can resurrect a
    click previously discarded as too-early — but the FULL event buffer
    is also more than needed.  The irreducible exact state per user is:

      * min(view) scalar       — only the minimum is ever used;
      * max(purchase) scalar   — ``exists p > t2`` == ``max(p) > t2``,
        and t2 only decreases as earlier views/clicks arrive, so a max
        that fails now can qualify later but never vice versa;
      * the click multiset PRUNED to {c <= current t2} — a click at or
        above the current qualifying minimum can never become the new
        minimum (t2 is monotone non-increasing); clicks below it must be
        kept because a future earlier view can qualify them.

    Reach is monotone non-decreasing in arriving data, which is what lets
    update-mode consumers keep max(reached) per user.  The click buffer
    is unbounded ONLY under unbounded disorder: production deployments
    bound it with an event-time watermark / state TTL (GroupStateTimeout),
    trading exactness beyond the lateness horizon for bounded state —
    the stream here carries no watermark so the adversarial replay tests
    can exercise arbitrarily late data.  Input columns: (user_id,
    event_type, ts_us micros)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _NONE = -(2**62)  # state schema has no nullable scalars; sentinel

    def funnel_state(key, pdfs, state: GroupState):
        min_view, max_purchase, clicks = (
            (state.get[0], state.get[1], list(state.get[2]))
            if state.exists
            else (_NONE, _NONE, [])
        )
        for pdf in pdfs:
            for t, ty in zip(pdf["ts_us"], pdf["event_type"]):
                t = int(t)
                if ty == "view":
                    min_view = t if min_view == _NONE else min(min_view, t)
                elif ty == "click":
                    clicks.append(t)
                else:
                    max_purchase = (
                        t if max_purchase == _NONE else max(max_purchase, t)
                    )
        reached = 0
        t2 = None
        if min_view != _NONE:
            reached = 1
            later = [c for c in clicks if c > min_view]
            if later:
                reached = 2
                t2 = min(later)
                if max_purchase != _NONE and max_purchase > t2:
                    reached = 3
        if t2 is not None:
            clicks = [c for c in clicks if c < t2] + [t2]
        state.update((min_view, max_purchase, clicks))
        if reached:
            yield pd.DataFrame(
                {"user_id": [int(key[0])], "reached": [reached]}
            )

    return events.groupBy("user_id").applyInPandasWithState(
        funnel_state,
        outputStructType="user_id bigint, reached int",
        stateStructType=(
            "min_view bigint, max_purchase bigint, clicks array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rolling_zscore_state(events: DataFrame) -> DataFrame:
    """Streaming twin of rel_rolling_zscore as a custom stateful operator:
    per-user GroupState holds the trailing <=20 (ts_us, event_id, value)
    observations; each arriving event is scored against that window
    BEFORE being appended (the batch query's self-excluding frame), and
    only |z| > 2.5 flags with >= 10 priors are emitted.

    Contrast with funnel_reach's full-buffer state: a trailing-window
    statistic only ever needs the last W observations, so state is
    O(W) per user BY CONSTRUCTION — this is the shape to reach for when
    the operator's math allows it, with the full buffer reserved for
    semantics (ordered funnels) that genuinely need history.  Exact
    under event-time-ordered arrival per user (rows are sorted within
    each batch; a cross-batch straggler older than the newest processed
    row would need funnel-style buffering instead).

    Input columns: (user_id, event_id, ts_us micros, value)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    W, MIN_PRIOR, THRESH = 20, 10, 2.5

    def zscore_state(key, pdfs, state: GroupState):
        ts_l, id_l, val_l = (
            (list(state.get[0]), list(state.get[1]), list(state.get[2]))
            if state.exists
            else ([], [], [])
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_us", "event_id"])
        out_ids, out_ts, out_z = [], [], []
        for t, eid, v in zip(rows["ts_us"], rows["event_id"], rows["value"]):
            n = len(val_l)
            if n >= MIN_PRIOR:
                mu = sum(val_l) / n
                var = sum((x - mu) ** 2 for x in val_l) / (n - 1)
                sigma = var**0.5
                if sigma > 0:
                    z = (float(v) - mu) / sigma
                    if abs(z) > THRESH:
                        out_ids.append(int(eid))
                        out_ts.append(int(t))
                        out_z.append(round(z, 4))
            ts_l.append(int(t))
            id_l.append(int(eid))
            val_l.append(float(v))
            if len(val_l) > W:
                ts_l, id_l, val_l = ts_l[-W:], id_l[-W:], val_l[-W:]
        state.update((ts_l, id_l, val_l))
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(out_ids),
                    "event_id": out_ids,
                    "ts_us": out_ts,
                    "z": out_z,
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        zscore_state,
        outputStructType="user_id bigint, event_id bigint, ts_us bigint, z double",
        stateStructType=(
            "ts array<bigint>, ids array<bigint>, vals array<double>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
