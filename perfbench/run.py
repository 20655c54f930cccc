"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds inputs from ``--seed``, sets up one
local Spark session, measures the workload for ``--seconds`` seconds, checks
every output and prints one JSON line as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (and the
span file ``.perfbench_out/<workload>-seed<n>.spans.jsonl``) with
``--trace 1``.  Exits non-zero on a failed check or a missing package.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Settings the package's session factory reads from the environment; the
# benchmark measures the package defaults, so inherited values are dropped.
_SESSION_ENV = (
    "SPARK_MASTER", "SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_MIN_PARTITIONS", "SPARK_GRAFT_AQE", "SPARK_DRIVER_MEMORY",
    "KB_SKIP_TS_CANARY",
)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "knowledgebot_spark")):
        print(f"knowledgebot_spark package not found under {ROOT}", file=sys.stderr)
        return 2

    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        cfg = json.load(fh)
    cfg["units"] = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for key in _SESSION_ENV:
        os.environ.pop(key, None)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    import workloads

    b = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                        cfg, work, T_PROCESS)
    try:
        result = workloads.WORKLOADS[args.workload](b)
        if b.traced:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            b.tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        b.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    for err in b.errors:
        print(err, file=sys.stderr)
    expected = {m["name"] for m in bench["per_layer" if b.traced else "end_to_end"]}
    if set(result["metrics"]) != expected:
        print(f"metric set mismatch: {sorted(expected ^ set(result['metrics']))}",
              file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
