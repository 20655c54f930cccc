"""The benchmark's workloads.  Each drives the package through its public
functions on seed-generated inputs in one local Spark session:

* ``ingest_incremental`` - closed loop of small ``incremental.run_extraction``
  runs over a pre-built chunk table, each on a fresh arrival window;
* ``search_closed_loop`` - client threads sending embed + top-k cosine
  queries against a vector table that set-up builds with the backfill path
  (E1 extraction then E2 export/parse/chunk/embed, following
  ``scripts/run_pipeline.py`` call for call).

An operation is one incremental run (start to checkpoint commit) or one
query.  Outputs are checked outside the timed sections.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from spans import Tracer, self_times


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _parquet_files(path: str) -> dict[str, int]:
    """Relative path -> mtime of every data file under a table directory."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.stat(full).st_mtime_ns
    return out


class Bench:
    """State of one benchmark run: session, tracer, counters, timings."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool,
                 cfg: dict, work: str, t_process: float):
        self.name = name
        self.seed = seed
        self.traced = trace
        self.cfg = cfg
        self.work = work
        self.t_process = t_process
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.session_start_s = 0.0
        self.loop_seconds = seconds / 2 if trace else seconds
        self.cpus = min(cfg["spark_cpus"], os.cpu_count() or 1)

    # ---- set-up ---------------------------------------------------------
    def start_session(self) -> None:
        from knowledgebot_spark.session import get_session

        t = time.perf_counter()
        self.spark = get_session(
            "perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident set (VmHWM) of this process and of the JVM."""
        pid = self.jvm_pid()
        return _hwm_mb(os.getpid()), (_hwm_mb(pid) if pid else 0.0)

    def dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def phase(self, what: str) -> None:
        """Log the time since process start at the end of a set-up phase."""
        print(f"[{time.perf_counter() - self.t_process:7.2f}s] {what}", file=sys.stderr)

    def fail(self, what: str, problems: list[str]) -> bool:
        if problems:
            self.errors.extend(f"{what}: {p}" for p in problems)
        return bool(problems)

    # ---- pipeline steps (the calls scripts/run_pipeline.py makes) --------
    def extract(self, docs_dir: str, n_msgs: int, dims, out: str,
                now_micros: int) -> dict:
        """E1: ``incremental.run_extraction`` over the model of ``docs_dir``
        (``n_msgs`` messages); ``dims`` is a directory holding the dimension
        tables or a ``(users, channels, members)`` triple already read."""
        from knowledgebot_spark import incremental, model

        spark = self.spark
        with self.tracer.span("model.read") as s:
            msgs = model.messages(spark, docs_dir)
            if isinstance(dims, str):
                dims = (model.users_dim(spark, dims), model.channels_dim(spark, dims),
                        model.members(spark, dims))
            if s is not None:
                s.counts["messages"] = n_msgs
        with self.tracer.span("incremental.run") as s:
            counters = incremental.run_extraction(
                spark, msgs, *dims,
                output_path=os.path.join(out, "knowledge_chunks"),
                state_path=os.path.join(out, "state"),
                now_micros=now_micros,
            )
            if s is not None:
                s.counts["reprocessed_keys"] = counters["n_reprocessed_keys"]
        return counters

    def vectorize(self, out: str) -> int:
        """E2: export chunk files, glob-scan and parse them back, cut token
        windows, embed, land the vector table; returns its row count."""
        from pyspark.sql import functions as F

        from knowledgebot_spark.operators import chunker as ck
        from knowledgebot_spark.operators import embedding as em
        from knowledgebot_spark.sinks.keyed_parquet import serialize_chunk_files

        spark, tr = self.spark, self.tracer
        export = os.path.join(out, "export")
        with tr.span("keyed_parquet.export") as s:
            files = serialize_chunk_files(
                spark.read.parquet(os.path.join(out, "knowledge_chunks")))
            (files.select("chunk_key", "value").write.mode("overwrite")
             .partitionBy("chunk_key").text(export))
            if s is not None:
                s.counts["files"] = sum(
                    1 for _, _, fs in os.walk(export)
                    for f in fs if f.endswith(".txt"))
        with tr.span("chunker.parse"):
            raw = spark.read.text(
                f"{export}/chunk_key=*/*", wholetext=True
            ).withColumn("source", F.input_file_name())
            parsed = ck.parse_header_body(raw, "value").filter(F.col("body") != "")
            if tr.enabled:      # traced run: execute the scan + parse alone
                parsed.write.format("noop").mode("overwrite").save()
        with tr.span("chunker.windows"):
            windows = ck.chunk_windows(
                parsed, "body", chunk_size=checks.WINDOW, overlap=checks.OVERLAP)
            if tr.enabled:      # traced run: pin the windows so the next
                windows = windows.persist()      # span times the UDF only
                windows.count()
        with tr.span("embedding.udf") as s:
            d5 = em.with_embedding(
                windows.select(
                    F.concat_ws("#", "source", "chunk_pos").alias("chunk_id"),
                    F.col("chunk_text").alias("text"),
                    F.col("meta")["Channel_Name"].alias("channel_name"),
                    F.col("meta")["Message_Author"].alias("author"),
                ),
                text_col="text",
            )
            d5_path = os.path.join(out, "vector_chunks")
            d5.write.mode("overwrite").parquet(d5_path)
            n = spark.read.parquet(d5_path).count()
            if s is not None:
                s.counts["vectors"] = n
        if tr.enabled:
            windows.unpersist()
        return n

    def backfill(self, docs_dir: str, out: str, n_docs: int) -> int:
        """E1 then E2 into the empty directory ``out``."""
        self.extract(docs_dir, n_docs, docs_dir, out,
                     gen.now_after(gen.FIRST_DOC + n_docs - 1))
        return self.vectorize(out)

    # ---- tracing hooks ----------------------------------------------------
    def install_trace(self) -> None:
        """Enable spans and wrap the module attributes ``run_extraction``
        calls internally."""
        from knowledgebot_spark import incremental, tables
        from knowledgebot_spark.operators import edits, extraction
        from knowledgebot_spark.sinks import checkpoint

        tr = self.tracer = Tracer(self.spark, enabled=True)
        self.captured: list = []

        def force_chunks(span, args, kwargs, df):
            with tr.span("extraction.exec"):
                df.write.format("noop").mode("overwrite").save()
            self.captured.append((span, "chunks_out", df))

        def capture(key):
            return lambda span, args, kwargs, df: self.captured.append((span, key, df))

        def upsert(orig):
            def wrapped(spark, path, *args, **kwargs):
                before = _parquet_files(path)
                with tr.span("keyed_parquet.upsert") as s:
                    orig(spark, path, *args, **kwargs)
                after = _parquet_files(path)
                new = [f for f, m in after.items() if before.get(f) != m]
                s.counts["files_written"] = len(new)
                s.counts["partitions_rewritten"] = len({os.path.dirname(f) for f in new})
                s.counts["rows_written"] = sum(
                    pq.read_metadata(os.path.join(path, f)).num_rows for f in new)
            return wrapped

        tr.wrap(tables, "read_table", "tables.read_table")
        tr.wrap(tables, "read_spread", "tables.read_spread")
        tr.wrap(extraction, "build_knowledge_chunks", "extraction.build",
                after=force_chunks)
        tr.wrap(edits, "join_parents", "edits.join_parents", after=capture("rows"))
        tr.wrap(checkpoint.IncrementalRun, "commit", "checkpoint.commit")
        tr.patch(incremental, "upsert_chunks", upsert(incremental.upsert_chunks))

    def finish_trace(self) -> None:
        """Restore the wrapped attributes and count captured plans (in a job
        group of their own, so no span is charged for them)."""
        self.tracer.unwrap()
        self.tracer.harvest(self.tracer.spans)
        self.spark.sparkContext.setJobGroup("perfbench-aux", "trace counts")
        for span, key, df in self.captured:
            span.counts[key] = span.counts.get(key, 0) + df.count()
        self.spark.sparkContext._jsc.clearJobGroup()

    # ---- result -----------------------------------------------------------
    def result(self, e2e: dict, layers: dict) -> dict:
        metrics = e2e if not self.traced else layers
        units = self.cfg["units"]
        return {
            "correct": self.failed == 0 and not self.errors,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


# ---- metric assembly --------------------------------------------------------

def layer_metrics(b: Bench, loop_ops: list[str], untraced: list[float],
                  traced: list[float]) -> dict:
    """Per-layer metrics from the traced spans.  A layer's figure is per
    operation that ran it: per incremental run or per query for the loop
    layers, per vector build for the backfill-path layers of
    ``search_closed_loop``.  ``spark.*`` totals are per loop operation."""
    spans = b.tracer.spans
    selfs = self_times(spans)
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def per_op(values, names):
        ops = {s.op for nm in names for s in by.get(nm, ())}
        return sum(values) / len(ops) if ops else 0.0

    def self_s(*names):
        return per_op([selfs[s.id] for nm in names for s in by.get(nm, ())], names)

    def total(attr, *names):
        return per_op([getattr(s, attr) for nm in names for s in by.get(nm, ())], names)

    def count(name, key):
        return per_op([s.counts.get(key, 0) for s in by.get(name, ())], [name])

    loop = set(loop_ops)

    def spark_total(attr):
        return sum(getattr(s, attr) for s in spans if s.op in loop) / max(len(loop), 1)

    chunks_out = count("extraction.build", "chunks_out")
    rows_written = count("keyed_parquet.upsert", "rows_written")
    rss_py, rss_jvm = b.peak_rss_mb()
    return {
        "session.start_s": b.session_start_s,
        "tables.read_table_s": self_s("tables.read_table", "tables.read_spread"),
        "model.read_s": self_s("model.read"),
        "model.messages_in": count("model.read", "messages"),
        "incremental.run_s": self_s("incremental.run"),
        "incremental.jobs": total("jobs", "incremental.run"),
        "incremental.tasks": total("tasks", "incremental.run"),
        "incremental.reprocessed_keys": count("incremental.run", "reprocessed_keys"),
        "extraction.plan_s": self_s("extraction.build"),
        "extraction.exec_s": self_s("extraction.exec"),
        "extraction.chunks_out": chunks_out,
        "edits.parents_reopened": count("edits.join_parents", "rows"),
        "keyed_parquet.upsert_s": self_s("keyed_parquet.upsert"),
        "keyed_parquet.upsert_jobs": total("jobs", "keyed_parquet.upsert"),
        "keyed_parquet.partitions_rewritten":
            count("keyed_parquet.upsert", "partitions_rewritten"),
        "keyed_parquet.files_written": count("keyed_parquet.upsert", "files_written"),
        "keyed_parquet.rows_written": rows_written,
        "keyed_parquet.rows_rewritten_per_new_row":
            rows_written / chunks_out if chunks_out else 0.0,
        "keyed_parquet.export_s": self_s("keyed_parquet.export"),
        "keyed_parquet.export_files": count("keyed_parquet.export", "files"),
        "checkpoint.commit_s": self_s("checkpoint.commit"),
        "chunker.parse_s": self_s("chunker.parse"),
        "chunker.scan_tasks": total("tasks", "chunker.parse"),
        "chunker.windows_s": self_s("chunker.windows"),
        "embedding.udf_s": self_s("embedding.udf"),
        "embedding.vectors_out": count("embedding.udf", "vectors"),
        "embedding.query_embed_ms": 1000.0 * self_s("embedding.query_embed"),
        "similarity.plan_ms": 1000.0 * self_s("similarity.plan"),
        "similarity.topk_ms": 1000.0 * self_s("similarity.topk"),
        "similarity.jobs_per_query": total("jobs", "similarity.topk"),
        "similarity.tasks_per_query": total("tasks", "similarity.topk"),
        "similarity.rows_scored_per_query": total("input_records", "similarity.topk"),
        "spark.jobs_per_op": spark_total("jobs"),
        "spark.stages_per_op": spark_total("stages"),
        "spark.tasks_per_op": spark_total("tasks"),
        "spark.failed_tasks": float(sum(s.failed_tasks for s in spans)),
        "spark.executor_run_s": spark_total("executor_run_s"),
        "spark.shuffle_write_mb": spark_total("shuffle_write_bytes") / 2**20,
        "rss.driver_mb": rss_py,
        "rss.jvm_mb": rss_jvm,
        "trace.ops": float(len(traced)),
        "trace.overhead_pct":
            100.0 * (statistics.median(traced) / statistics.median(untraced) - 1.0),
    }


def e2e_metrics(setup_s: float, op_times: list[float], wall: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_ms": 1000.0 * statistics.median(op_times),
        "op_p80_ms": 1000.0 * float(np.percentile(op_times, 80)),
        "ops_per_s": len(op_times) / wall,
    }


# ---- loops ------------------------------------------------------------------

def run_loop(b: Bench, clients: int, op, work) -> tuple[list[float], list[str], float]:
    """Closed loop: ``clients`` threads each run ``op(i)`` for the next
    ``i`` from the shared iterator ``work`` as soon as their previous
    operation returned, until ``loop_seconds`` have passed or ``work`` is
    exhausted.  ``op`` returns its own duration
    (an incremental run is timed to its checkpoint commit).  Returns the
    durations of the operations that succeeded, their op ids and the wall
    time of the loop."""
    lock = threading.Lock()
    times: list[float] = []
    ids: list[str] = []
    deadline = time.perf_counter() + b.loop_seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                i = next(work, None)
                if i is None:
                    return
                b.attempted += 1
            op_id = f"{b.name}-{i}"
            try:
                with b.tracer.span(f"{b.name}.op", op=op_id):
                    dt = op(i)
            except Exception:       # a failed operation must not stop the loop
                with lock:
                    b.failed += 1
                    b.errors.append(traceback.format_exc(limit=4))
                continue
            with lock:
                times.append(dt)
                ids.append(op_id)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return times, ids, time.perf_counter() - t0


def measure(b: Bench, loop, traced_setup=None) -> tuple[list[float], float, dict]:
    """Run ``loop()`` untraced.  In the traced run, then enable spans, run
    ``traced_setup()`` if given, and run ``loop()`` again; return the
    per-layer metrics of the traced part too."""
    times, _, wall = loop()
    print(f"op times (s): {' '.join(f'{t:.3f}' for t in times)}", file=sys.stderr)
    if not times:
        raise RuntimeError("no operation succeeded: " + "".join(b.errors[-1:]))
    if not b.traced:
        return times, wall, {}
    b.install_trace()
    if traced_setup is not None:
        traced_setup()
    ttimes, ids, _ = loop()
    b.finish_trace()
    if not ttimes:
        raise RuntimeError("no traced operation succeeded: " + "".join(b.errors[-1:]))
    return times, wall, layer_metrics(b, ids, times, ttimes)


# ---- workloads --------------------------------------------------------------

def _edit_parents(lo: int, hi: int) -> set[int]:
    """Doc ids before ``lo`` that the #EDIT replies among ``[lo, hi)`` reopen
    (model: reply iff doc_id % 5 == 4, #EDIT text iff doc_id % 20 == 14)."""
    return {d - 5 for d in range(lo, hi)
            if d % gen.EDIT_PERIOD == 14 and gen.FIRST_DOC <= d - 5 < lo}


def ingest_incremental(b: Bench) -> dict:
    from knowledgebot_spark import model
    from knowledgebot_spark.sinks import checkpoint

    c = b.cfg["workloads"]["ingest_incremental"]
    b.start_session()

    # the measured stream: initial table, then pre-generated arrival windows
    n_batches = c["max_batches"]
    first_lo, _ = gen.batch_bounds(c["initial_docs"], c["batch_docs"], 0)
    last_hi = gen.batch_bounds(c["initial_docs"], c["batch_docs"], n_batches - 1)[1]
    texts = gen.message_texts(b.seed, last_hi - gen.FIRST_DOC)
    dims = b.dir("dims")
    gen.write_dims(dims)
    init = b.dir("initial")
    gen.write_documents(init, range(gen.FIRST_DOC, first_lo), texts)
    out = b.dir("table")
    b.phase("session")
    b.extract(init, first_lo - gen.FIRST_DOC, dims, out, gen.now_after(first_lo - 1))
    b.phase("initial table")

    def write_batches(name, texts, n):
        """Arrival windows of batches 0..n-1 of a stream with ``texts``."""
        out, ckpt = [], gen.now_after(first_lo - 1)
        for i in range(n):
            lo, hi = gen.batch_bounds(c["initial_docs"], c["batch_docs"], i)
            now = gen.now_after(hi - 1)
            window = gen.arrival_window(ckpt, now)
            d = b.dir(name, f"batch{i:03d}")
            gen.write_documents(d, window, texts)
            out.append((d, len(window), lo, hi, ckpt, now))
            ckpt = now
        return out

    # warm-up: untimed runs through the merge branch of the keyed sink, on
    # copies of the table, with other texts for the new messages and input
    # paths of their own: never a measured input.  warmup_clients streams run
    # side by side so the JIT sees more runs in the time.
    wtexts = texts[: first_lo - gen.FIRST_DOC] + gen.message_texts(
        b.seed + 7919, len(texts) - (first_lo - gen.FIRST_DOC))

    def warm_stream(k):
        table = os.path.join(b.dir("warmup", str(k)), "table")
        shutil.copytree(out, table)
        for d, n_in, _, _, _, now in write_batches(
                os.path.join("warmup", str(k)), wtexts, c["warmup_batches"]):
            b.extract(d, n_in, dims, table, now)

    with ThreadPoolExecutor(c["warmup_clients"]) as ex:
        for f in [ex.submit(warm_stream, k) for k in range(c["warmup_clients"])]:
            f.result()
    b.phase("warm-up batches")

    batches = write_batches("arrivals", texts, n_batches)
    dim_dfs = (model.users_dim(b.spark, dims), model.channels_dim(b.spark, dims),
               model.members(b.spark, dims))
    setup_s = time.perf_counter() - b.t_process

    committed = {}
    orig_commit = checkpoint.IncrementalRun.commit

    def commit(run):
        orig_commit(run)
        committed["t"] = time.perf_counter()

    done_hi = [first_lo]

    def op(i):
        d, n_in, lo, hi, ckpt, now = batches[i]
        t = time.perf_counter()
        counters = b.extract(d, n_in, dim_dfs, out, now)
        dt = committed.pop("t") - t
        done_hi[0] = hi
        want_keys = (hi - lo) + len(_edit_parents(lo, hi))
        problems = []
        if counters["n_reprocessed_keys"] != want_keys:
            problems.append(f"{counters['n_reprocessed_keys']} keys, expected {want_keys}")
        if (counters["checkpoint_before"], counters["checkpoint_after"]) != (ckpt, now):
            problems.append(f"checkpoint {counters} expected {ckpt}->{now}")
        if problems:
            raise RuntimeError(f"batch {i}: " + "; ".join(problems))
        return dt

    # the stream continues from the untraced loop into the traced one
    work = iter(range(n_batches))
    checkpoint.IncrementalRun.commit = commit
    try:
        times, wall, layers = measure(b, lambda: run_loop(b, 1, op, work))
    finally:
        checkpoint.IncrementalRun.commit = orig_commit
    e2e = e2e_metrics(setup_s, times, wall)

    # the table after the last batch == the oracle over every committed message
    check = b.dir("check")
    gen.write_dims(check)
    gen.write_documents(check, range(gen.FIRST_DOC, done_hi[0]), texts)
    problems = checks.chunk_table(
        b.spark, os.path.join(out, "knowledge_chunks"), checks.oracle_chunks(check))
    if b.fail("final table", problems):
        b.failed += 1
    return b.result(e2e, layers)


def search_closed_loop(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from knowledgebot_spark.operators import embedding as em
    from knowledgebot_spark.operators import similarity as sim

    c = b.cfg["workloads"]["search_closed_loop"]
    b.start_session()
    spark = b.spark

    def run_query(table, text, channel):
        with b.tracer.span("embedding.query_embed"):
            qvec = em.embed_text(text)
        with b.tracer.span("similarity.plan"):
            q = spark.createDataFrame([(qvec,)], "qvec array<float>")
            t = table if channel is None else table.filter(F.col("channel_name") == channel)
            plan = sim.topk_cosine(t, q, k=c["k"], id_col="chunk_id", vec_col="embedding")
        with b.tracer.span("similarity.topk"):
            rows = plan.collect()
        return qvec, [(r.chunk_id, r.score) for r in rows]

    # the vector table, built with the backfill path and checked
    corpus = b.dir("corpus")
    gen.corpus(corpus, b.seed, c["docs"])
    want = checks.oracle_chunks(corpus)

    def build(out):
        n = b.backfill(corpus, out, c["docs"])
        problems = checks.chunk_table(spark, os.path.join(out, "knowledge_chunks"), want)
        if n != checks.expected_windows(want):
            problems.append(f"{n} vectors, expected {checks.expected_windows(want)}")
        sample = (spark.read.parquet(os.path.join(out, "vector_chunks"))
                  .orderBy("chunk_id").select("text", "embedding")
                  .limit(c["embedding_sample"]).collect())
        problems += checks.embeddings(sample, em.embed_text)
        b.attempted += 1
        if b.fail(f"vector build {out}", problems):
            b.failed += 1

    out = b.dir("vectors")
    b.phase("session")
    build(out)
    b.phase("vector table")
    table = spark.read.parquet(os.path.join(out, "vector_chunks"))
    rows = table.select("chunk_id", "channel_name", "embedding").collect()
    brute = checks.BruteForce([r.chunk_id for r in rows], [r.channel_name for r in rows],
                              [r.embedding for r in rows])

    # queries: every 10 consecutive ones hold exactly 3 filtered ones, so
    # the filtered share of a run does not depend on the seed
    pool = gen.queries(b.seed, c["max_queries"])
    rng = np.random.default_rng([b.seed, 4])
    channels = ["chan " + gen.REGIONS[int(x)].lower() for x in rng.integers(0, 5, len(pool))]
    n_filtered = round(10 * c["filter_share"])
    filtered = [(i * 3) % 10 < n_filtered for i in range(len(pool))]

    # warm-up: the query path for warmup_seconds on a separate generated
    # vector table with other queries, one client per core so the JIT sees
    # as many queries as the time allows
    warm = os.path.join(b.dir("warmup"), "vectors.parquet")
    gen.vector_table(warm, b.seed + 7919, c["warmup_vectors"], em.embed_text)
    wtable = spark.read.parquet(warm)
    wpool = gen.queries(b.seed + 7919, c["max_queries"])
    deadline = time.perf_counter() + c["warmup_seconds"]

    def warm_client(i):
        while time.perf_counter() < deadline:
            run_query(wtable, wpool[i], channels[i] if filtered[i] else None)
            i += b.cpus

    with ThreadPoolExecutor(b.cpus) as ex:
        for f in [ex.submit(warm_client, k) for k in range(b.cpus)]:
            f.result()
    b.phase("warm-up queries")
    setup_s = time.perf_counter() - b.t_process

    results: list[tuple] = []
    lock = threading.Lock()

    def op(i):
        ch = channels[i] if filtered[i] else None
        t = time.perf_counter()
        qvec, got = run_query(table, pool[i], ch)
        dt = time.perf_counter() - t
        with lock:
            results.append((i, qvec, ch, got))
        return dt

    def traced_build():
        # the backfill-path layers, traced once on a warm JVM
        with b.tracer.span("search_closed_loop.build", op="build"):
            build(b.dir("vectors-traced"))

    # the traced loop continues with fresh queries from the pool
    work = iter(range(len(pool)))
    times, wall, layers = measure(
        b, lambda: run_loop(b, c["clients"], op, work), traced_build)
    e2e = e2e_metrics(setup_s, times, wall)
    for i, qvec, ch, got in results:
        expect = brute.topk(qvec, c["k"], ch)
        if got != expect:
            b.failed += 1
            b.errors.append(f"query {i} {pool[i]!r}: {got} != {expect}")
    return b.result(e2e, layers)


WORKLOADS = {
    "ingest_incremental": ingest_incremental,
    "search_closed_loop": search_closed_loop,
}
