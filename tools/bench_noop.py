#!/usr/bin/env python
"""Auxiliary COUNT-action bench (protocol delta recorder).

Since round 6 the HEADLINE bench (bench.py) times every query to a noop-sink
write — full materialization of every output column, the denominator the
correctness gate always pays (VERDICT r5 #2).  This tool records the LEGACY
r1-r5 count() numbers for the same inventory, so the count-vs-noop pruning
delta stays a measurement across rounds: count() lets Catalyst prune
terminal projections a row count does not need (measured at r5: suite
102.3 s noop vs 70.0 s count, 36 queries >= 1.5x).

Results land under BENCH_DETAIL.json ``count_action`` with the per-query
ratio noop/count taken against the headline ``queries`` map from the same
file.

Usage: python tools/bench_noop.py [SF_DIR]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import __spark_entry__ as entrymod
    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("bench-count")
    qs = entrymod.queries()

    # warmup (codegen + fs cache), same protocol as bench.py
    for name, fn in qs.items():
        try:
            fn(spark, "/root/testdata/sf0.01").count()
        except Exception as e:
            print(f"warmup {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    out: dict[str, float] = {}
    for name, fn in qs.items():
        best = -1.0
        try:
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best < 0 else min(best, dt)
        except Exception as e:
            print(f"{name} failed: {e}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()
        out[name] = round(best, 3)

    from bench import load_detail, merge_detail

    detail = load_detail()
    noop_times = detail.get("queries", {}) if detail.get("action") == "noop" else {}
    ratios = {
        n: round(noop_times[n] / t, 2)
        for n, t in out.items()
        if t > 0 and noop_times.get(n, 0) > 0
    }
    big = {n: r for n, r in sorted(ratios.items(), key=lambda kv: -kv[1]) if r >= 1.5}
    count_action = {
        "protocol": "df.count() — the r1-r5 legacy timed action; Catalyst "
        "prunes terminal projections a row count does not need.  ratio = "
        "headline noop / count from this file's queries map; rows >= 1.5x "
        "are where count()-pruning skips terminal projection work",
        "total_sec": round(sum(t for t in out.values() if t > 0), 3),
        "queries": out,
        "ratio_noop_vs_count": ratios,
        "over_1p5x": big,
    }
    merge_detail({"count_action": count_action})
    print(json.dumps({"count_total": count_action["total_sec"],
                      "noop_total": round(sum(t for t in noop_times.values() if t > 0), 3) if noop_times else None,
                      "n_over_1p5x": len(big)}))
    spark.stop()


if __name__ == "__main__":
    main()
