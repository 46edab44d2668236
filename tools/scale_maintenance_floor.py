#!/usr/bin/env python
"""Prove the maintenance floor amortizes: the 10x-lake point (VERDICT r5 #6).

The r5 ``b512_quiet_day`` note ARGUED that the incremental day-2 wall at the
3.2M-row fixture is bounded by fixed pipeline floor (512-dir partition
listings, append commit, probe/collect jobs), not by rebuild compute — so
the wall UNDERSTATES the pruning win while bucket counts (4/512) state it
exactly.  This tool turns the argument into a measurement: land a day-1 lake
10x bigger (40k symbols x 20 concepts x 40 quarters = 32M rows, same 512
buckets), replay the IDENTICAL 4-symbol / 80-row day-2 batch, and time
day 2 both ways:

- if the floor claim is right, the incremental wall grows far less than 10x
  (the floor is lake-size-independent; only the 4 touched buckets' rebuild
  grows, 10x of a tiny term) while the full rebuild grows ~10x (it scans
  and rewrites the whole lake);
- bucket counts must stay 4/512 — the batch, not the lake, determines them.

Results merge into BENCH_DETAIL.json under
``sf10_joins.maintenance_sf10.b512_x10_lake`` next to the r5 points.

Usage: python tools/scale_maintenance_floor.py [SF10J_DIR]
       (default /tmp/spark_graft_scale/sf10j; regenerate with make_scale.py)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_SYM_X10 = 40_000      # 10x the r5 fixture's 4000-symbol universe
TOUCH_EVERY_X10 = 10_000  # same ABSOLUTE day-2 batch: 4 symbols, 80 rows
N_BUCKETS = 512


def main() -> None:
    sf10j = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale/sf10j"

    from scale_smoke_joins import _build_fund_raw

    from us_equity_datalake_spark.equity.daily_job import LakePaths, update_fundamentals
    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("scale-maint-floor")

    def quiesce():
        try:
            os.sync()
        except Exception:
            pass
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    day1 = _build_fund_raw(spark, sf10j, day=1, n_sym=N_SYM_X10,
                           touch_every=TOUCH_EVERY_X10).localCheckpoint(eager=True)
    day2 = _build_fund_raw(spark, sf10j, day=2, n_sym=N_SYM_X10,
                           touch_every=TOUCH_EVERY_X10).localCheckpoint(eager=True)
    out: dict = {"n_buckets": N_BUCKETS,
                 "day1_rows": day1.count(), "day2_rows": day2.count()}
    print(f"day1 {out['day1_rows']} rows, day2 {out['day2_rows']} rows", file=sys.stderr)

    for mode in ("incremental", "full"):
        root = tempfile.mkdtemp(prefix=f"quantlake_maint_x10_{mode}_")
        shutil.rmtree(root, ignore_errors=True)
        lp = LakePaths(root)
        try:
            t0 = time.time()
            update_fundamentals(spark, lp, day1, incremental=True,
                                n_buckets=N_BUCKETS, report_counts=False)
            out.setdefault("day1_land_sec", round(time.time() - t0, 3))
            best = -1.0
            for _ in range(2):
                quiesce()
                t0 = time.time()
                r2 = update_fundamentals(spark, lp, day2,
                                         incremental=(mode == "incremental"),
                                         n_buckets=N_BUCKETS, report_counts=False)
                dt = time.time() - t0
                best = dt if best < 0 else min(best, dt)
            out[f"day2_sec_{mode}"] = round(best, 3)
            out[f"day2_buckets_{mode}"] = r2["derived_buckets_rebuilt"]
            print(f"{mode}: {best:.1f}s, buckets {r2['derived_buckets_rebuilt']}",
                  file=sys.stderr)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    # the graded claims
    assert out["day2_buckets_incremental"] <= 4, out       # batch-determined
    assert out["day2_sec_incremental"] < out["day2_sec_full"] / 3, out

    from bench import load_detail, merge_detail

    sf10_joins = load_detail().get("sf10_joins", {})
    maint = sf10_joins.setdefault("maintenance_sf10", {})
    prev = maint.get("b512_quiet_day", {})
    out["note"] = (
        "10x-lake floor test (VERDICT r5 #6): IDENTICAL 4-symbol/80-row day-2 "
        "batch as b512_quiet_day, lake grown 3.2M -> 32M rows at the same 512 "
        "buckets.  The full rebuild pays the lake (scan+window+rewrite of all "
        "512 buckets) while the incremental side pays the fixed floor plus 4 "
        "touched buckets — its wall must grow far less than 10x for the "
        "b512_quiet_day floor-bound reading to hold; bucket counts are set by "
        "the batch, not the lake size."
    )
    if prev.get("day2_sec_incremental"):
        out["incr_growth_vs_3p2M_lake"] = round(
            out["day2_sec_incremental"] / prev["day2_sec_incremental"], 2)
        out["full_growth_vs_3p2M_lake"] = round(
            out["day2_sec_full"] / prev["day2_sec_full"], 2)
    maint["b512_x10_lake"] = out
    merge_detail({"sf10_joins": sf10_joins})
    print(json.dumps({"b512_x10_lake": {k: v for k, v in out.items() if k != "note"}}))
    spark.stop()


if __name__ == "__main__":
    main()
