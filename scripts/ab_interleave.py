"""Interleaved fresh-process A/B runner for the optimization rounds.

Each variant is a JSON object {"name": ..., "env": {...}} read from
--variants (a JSON list).  Per round, every variant runs once as a fresh
`profile_queries.py --no-plan` subprocess (min-of-REPEATS noop-sink
executions of QUERY), interleaved so host-noise windows hit all variants
alike.  Prints a per-round table and per-variant means at the end.

Usage:
    python scripts/ab_interleave.py --query stream_champion_upsert \
        --rounds 3 --repeats 3 \
        --variants '[{"name":"fold16","env":{}},
                     {"name":"fold4","env":{"KB_LEDGER_COMPACT_EVERY":"4"}}]'
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(query: str, sf: str, repeats: int, env: dict[str, str]) -> float:
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "profile_queries.py"),
            "--no-plan",
            "--repeats",
            str(repeats),
            "--sf",
            sf,
            query,
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env={**os.environ, **env},
        timeout=1800,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"profile run failed for {env}:\n{proc.stderr[-3000:]}"
        )
    timings = json.loads(proc.stdout.strip().splitlines()[-1])
    if query not in timings:
        raise RuntimeError(
            f"profile run for {env} returned no timing for query {query!r}; "
            f"see the SKIP line on its stderr:\n{proc.stderr[-3000:]}"
        )
    return timings[query]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--variants", required=True)
    args = ap.parse_args()

    variants = json.loads(args.variants)
    results: dict[str, list[float]] = {v["name"]: [] for v in variants}
    for rnd in range(args.rounds):
        for v in variants:
            sec = run_once(args.query, args.sf, args.repeats, v["env"])
            results[v["name"]].append(sec)
            print(f"round {rnd} {v['name']:>12}: {sec:7.3f}s", flush=True)
    summary = {
        name: {
            "runs": vals,
            "mean": round(statistics.mean(vals), 3),
            "min": round(min(vals), 3),
        }
        for name, vals in results.items()
    }
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
