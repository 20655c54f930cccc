"""Per-query profiler for the optimization rounds.

For each named query: capture .explain("formatted") to plans/<tag>/<name>_<suffix>.txt
and time min-of-N noop-sink executions with a job description label.

Usage:
    python scripts/profile_queries.py [--sf SF_DIR] [--tag r13] [--suffix before]
           [--repeats 3] name [name ...]

Prints one JSON line {name: seconds} at the end.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from knowledgebot_spark.registry import load
    from knowledgebot_spark.session import get_session

    catalog = load()
    spark = get_session("knowledgebot-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id % 7)").collect()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(plans_dir, exist_ok=True)

    timings: dict[str, float] = {}
    for name in args.names:
        qd = catalog.get(name)
        if qd is None:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        best = None
        for rep in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = qd.fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            if rep == 0 and not args.no_plan:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(
                    os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
                ) as fh:
                    fh.write(buf.getvalue())
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        print(f"{best:8.3f}  {name}", file=sys.stderr)

    print(json.dumps(timings))


if __name__ == "__main__":
    main()
