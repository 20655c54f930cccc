"""SparkSession factory.

UTC session timezone is load-bearing: the reference formats dates with
``datetime.fromtimestamp(ts, tz=timezone.utc)`` (KnowledgeBot.py:481,517),
so every date-derivation operator (P4/P5) assumes UTC.

Scale posture (100 TB): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold left at default so small dims
(region/nation/users/channels) broadcast automatically, and shuffle
partitions sized from the environment so a real cluster can raise it to
O(cores * 2..4) while local tests stay small.

Python workers start from ``pydaemon`` (``spark.python.daemon.module``),
which stops each task's ``importlib.invalidate_caches()`` from re-reading
``pyspark.zip``: about 200 ms of CPU per Python task, and a one-row query
frame runs four such tasks.  The daemon needs executors that can import
``knowledgebot_spark``, as the engine's module-level UDFs already do; the
package's parent directory is prepended to ``spark.executorEnv.PYTHONPATH``
so a local session finds it from any working directory.  On a cluster the
package must be importable where the executors run (installed, or on their
``PYTHONPATH``): the daemon imports it when it starts, before any task adds
its ``--py-files`` to ``sys.path``.

The JVM talks to the Python workers, and the driver to the JVM, over Unix
domain sockets (``spark.python.unix.domain.socket.enabled``), not loopback
TCP, where every Python job waited about 40 ms on the JVM side of its
connections (timings in ``pydaemon``).  Each socket is named
``<dir>/.<uuid4>.sock``, 43 bytes after the directory, and ``sun_path``
holds 107, so the directory must be at most 64 bytes.  Spark's default,
``java.io.tmpdir``, can be longer (a job's scratch directory under its
checkout), so a session built here owns a short ``/tmp/kbpy-*`` directory,
removed when the interpreter exits.  A process killed before it exits
leaves that one empty directory behind.  ``extra_conf`` may override
either key.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# directory that holds the knowledgebot_spark package, for the workers
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SOCKET_DIR = "spark.python.unix.domain.socket.dir"


def _socket_dir() -> str:
    """A fresh short directory for the session's sockets, removed at exit."""
    path = tempfile.mkdtemp(prefix="kbpy-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_session(
    app_name: str = "knowledgebot-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    active = SparkSession.getActiveSession()
    if active is not None and master is None and extra_conf is None:
        if shuffle_partitions is not None:
            # runtime-settable — apply instead of silently dropping it
            # (getOrCreate would ignore builder confs on an active session)
            active.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    # Minimum input splits >= available parallelism: a table whose files are
    # smaller than maxPartitionBytes otherwise scans as ONE task, so every
    # pre-shuffle expression (token hashing, regex extraction) runs on one
    # core.  Same rule a real cluster wants — measured 20-30% off the heavy
    # catalog queries locally.
    try:
        cpu_count = int(str(master).split("[")[1].rstrip("]"))
    except (IndexError, ValueError):
        cpu_count = os.cpu_count() or 8
    min_partitions = int(
        os.environ.get("SPARK_MIN_PARTITIONS", str(max(cpu_count, 8)))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # SPARK_GRAFT_AQE=false lets the robustness sweep prove results are
        # layout-independent with runtime re-planning disabled too
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # keep partition columns as written (msg_date '20250101' stays a
        # string on read-back — the keyed sink round-trips its own schema)
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # NOTE: spark.sql.legacy.parquet.nanosAsLong is deliberately NOT set:
        # Spark 4.1 ignores it and reads TIMESTAMP(NANOS) natively as
        # TIMESTAMP_NTZ; tables.read_table carries a unit-detecting fallback
        # plus a canary for older/newer reader semantics.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.minPartitionNum", str(min_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "knowledgebot_spark.pydaemon")
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    conf = dict(extra_conf or {})
    # a reused SparkContext keeps the socket directory it was built with
    if SparkContext._active_spark_context is None and _SOCKET_DIR not in conf:
        conf[_SOCKET_DIR] = _socket_dir()
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
