"""The engine's Python worker daemon: per-task ``importlib.invalidate_caches()``
must not re-read an unchanged zip archive, must still pick up a changed
one, and the session must find the daemon from any working directory."""

from __future__ import annotations

import importlib.util
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
