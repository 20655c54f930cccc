"""The engine's Python worker daemon: per-task ``importlib.invalidate_caches()``
must not re-read an unchanged zip archive, must still pick up a changed
one, and the session must find the daemon from any working directory.  The
workers talk to the JVM over Unix domain sockets in a short directory the
session owns, whatever the temp directory is."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from knowledgebot_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(archive, source):
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m.py", source)


def _load_m(importer):
    spec = importer.find_spec("m")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_guard_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    importer = zipimport.zipimporter(archive)
    assert _load_m(importer).VALUE == 1

    importer.invalidate_caches()  # the first call reads and stamps the archive
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is files, "an unchanged archive was re-read"
    sibling = zipimport.zipimporter(archive)
    sibling.invalidate_caches()
    assert sibling._files is files, "importers of one archive read it twice"

    _write_zip(archive, "VALUE = 'two, and a longer file'\n")
    importer.invalidate_caches()
    assert importer._files is not files
    assert _load_m(importer).VALUE == "two, and a longer file"

    os.remove(archive)  # no stamp: the stock method empties the directory
    importer.invalidate_caches()
    assert importer._files == {}
    _write_zip(archive, "VALUE = 3\n")
    importer.invalidate_caches()
    assert _load_m(importer).VALUE == 3


def test_python_task_does_not_reread_zip_archives(spark):
    def reread_archives(_):
        import importlib
        import sys
        import zipimport

        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in importers]
        importlib.invalidate_caches()
        changed = [f.archive for f, d in zip(importers, before) if f._files is not d]
        return len(importers), changed

    [(n_importers, changed)] = (
        spark.sparkContext.parallelize([0], 1).map(reread_archives).collect()
    )
    assert n_importers > 0
    assert changed == [], f"invalidate_caches re-read {len(changed)} zip importers"


def test_session_runs_python_tasks_from_a_foreign_directory(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from knowledgebot_spark.session import get_session

        spark = get_session("foreign-cwd", master="local[1]")
        rows = spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect()
        spark.stop()
        sys.exit(0 if rows == [2] else 1)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_workers_use_a_unix_socket_from_a_deep_temp_dir(tmp_path):
    deep = tmp_path / ("d" * 100)  # too long for a socket path under it
    deep.mkdir()
    script = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {REPO!r})
        from knowledgebot_spark.session import get_session

        spark = get_session(
            "deep-tmp",
            master="local[1]",
            extra_conf={{"spark.driver.extraJavaOptions": "-Djava.io.tmpdir={deep}"}},
        )
        sc = spark.sparkContext
        [flag] = (
            sc.parallelize([0], 1)
            .map(lambda _: os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED"))
            .collect()
        )
        [row] = spark.createDataFrame([([1.0, 2.0],)], "qvec array<float>").collect()
        print(json.dumps({{
            "flag": flag,
            "qvec": row.qvec,
            "jvm_tmpdir": sc._jvm.java.lang.System.getProperty("java.io.tmpdir"),
            "socket_dir": sc.getConf().get("spark.python.unix.domain.socket.dir"),
        }}))
        spark.stop()
        """
    )
    env = dict(os.environ, TMPDIR=str(deep), SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["jvm_tmpdir"] == str(deep)
    assert out["flag"] == "True"
    assert out["qvec"] == [1.0, 2.0]
    assert len(os.fsencode(out["socket_dir"])) <= 64
    assert not os.path.exists(out["socket_dir"])


def test_reused_session_keeps_its_socket_dir(spark, monkeypatch):
    import tempfile

    from knowledgebot_spark.session import get_session

    def no_new_dir(*args, **kwargs):
        raise AssertionError("a reused session created a directory")

    socket_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    assert os.path.basename(socket_dir).startswith("kbpy-")
    assert os.path.isdir(socket_dir)
    monkeypatch.setattr(tempfile, "mkdtemp", no_new_dir)
    same_conf = {"spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions")}
    for again in (get_session(), get_session(extra_conf=same_conf)):
        assert again is spark
        conf = again.sparkContext.getConf()
        assert conf.get("spark.python.unix.domain.socket.dir") == socket_dir
