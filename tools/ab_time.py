#!/usr/bin/env python
"""Isolated A/B timer for named queries against an arbitrary repo checkout.

Starts a FRESH session (fresh JVM) with the bench session confs, warms the
JVM on sf0.01 for the named queries, then times each query isolated —
noop-sink action, warm best-of-N (bench protocol) — and prints one JSON
line with the session's ``cpus`` and the box's ``nproc``.  Pointing
``--repo`` at a plain checkout (``git archive``) of an older commit gives the
same-box, same-session-conditions A/B (checkout, not recall).  A query that
fails is reported with its error instead of a time, and the tool then exits
non-zero.

Usage:
    python tools/ab_time.py [--repo DIR] [--sf DIR] [--runs N] q [q ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warm-sf", default="")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod  # noqa: E402
    from us_equity_datalake_spark.session import get_spark  # noqa: E402

    assert entrymod.__file__.startswith(repo), entrymod.__file__
    spark = get_spark("ab_time")
    qmap = entrymod.queries()
    warm_dir = args.warm_sf or os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.01")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # JVM/codegen warmup on the small sf so run 1 is not a cold-JVM outlier
    for name in args.queries:
        try:
            noop(qmap[name](spark, warm_dir))
        except Exception as e:
            print(f"warmup {name} failed: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    out = {}
    for name in args.queries:
        times = []
        try:
            for _ in range(max(1, args.runs)):
                os.sync()
                t0 = time.time()
                noop(qmap[name](spark, args.sf))
                times.append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
            out[name] = {"best": min(times), "times": times}
        except Exception as e:
            print(f"{name} failed: {e}", file=sys.stderr)
            out[name] = {"error": f"{type(e).__name__}: {e}"[:500], "times": times}
    print(json.dumps({"repo": repo, "sf": args.sf,
                      "cpus": spark.sparkContext.defaultParallelism, "nproc": os.cpu_count(),
                      "queries": out}))
    spark.stop()
    if any("error" in r for r in out.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
