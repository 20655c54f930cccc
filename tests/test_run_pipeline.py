"""Smoke test of the end-to-end CLI (``scripts/run_pipeline.py``): E1
extraction, E2 export/parse/chunk/embed and E3 top-k search, run in the
test session into a temporary work directory."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_runs_e1_to_e3(spark, sf_dir, tmp_path, capsys):
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(ROOT, "scripts", "run_pipeline.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    workdir = str(tmp_path / "pipeline")
    cli.main(sf_dir, workdir, "spark table scan")
    lines = capsys.readouterr().out.splitlines()

    e1 = next(line for line in lines if line.startswith("[E1]"))
    assert int(e1.split()[2]) > 0, e1
    chunks = spark.read.parquet(os.path.join(workdir, "knowledge_chunks"))
    assert chunks.count() > 0
    e2 = next(line for line in lines if line.startswith("[E2]"))
    n_vecs = int(e2.split()[2])
    assert n_vecs == spark.read.parquet(os.path.join(workdir, "vector_chunks")).count() > 0
    e3 = lines.index(next(line for line in lines if line.startswith("[E3]")))
    hits = lines[e3 + 1:]
    assert len(hits) == min(cli.TOP_K, n_vecs)
    scores = [float(h.split()[0]) for h in hits]
    assert scores == sorted(scores, reverse=True)
