#!/usr/bin/env python
"""CMS join-size error at scale: fixed width vs width-per-key (VERDICT r7 #6).

The Count-Min inner-product estimator overestimates by collision
cross-terms ~ N_A * N_B / width per depth row.  Scale both sides x10 at
FIXED width and the absolute error grows ~100x against a ~10x true join
size — the overestimate ratio degrades ~10x per 10x data.  Hold the
PRODUCTION CONSTANT instead — width proportional to distinct keys (cells
per distinct key, the bits-per-key analog the bloom curve identified) —
and the ratio stays ~flat, because collisions per bucket stay constant.

This is the bloom-saturation-curve exercise for the CMS family: measure
the degradation, then show which constant restores the designed accuracy.
Results merge into BENCH_DETAIL.json under ``cms_scale``.

Usage: python tools/cms_scale_curve.py [SF1_DIR]
       (default /tmp/spark_graft_scale/sf1; regenerate with make_scale.py)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
FIXED_WIDTH = 8192  # the graded query's width
CELLS_PER_KEY_BASE = None  # derived: FIXED_WIDTH / distinct keys at sf0.1


def main() -> None:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale/sf1"

    from pyspark.sql import functions as F

    from us_equity_datalake_spark.operators import sketch
    from us_equity_datalake_spark.session import get_spark
    from us_equity_datalake_spark.sources.registry import load_table

    spark = get_spark("cms-scale")

    def slices(d):
        li = load_table(spark, "lineitem", d)
        pk = F.col("l_partkey").cast("string").alias("pk")
        a = li.where(F.col("l_returnflag") == "A").select(pk)
        b = li.where(F.col("l_returnflag") == "N").select(pk)
        return a, b

    # the production constant is defined at the BASE scale: the graded
    # fixture's width divided by its distinct-key count
    a0, b0 = slices(SF01)
    nd0 = a0.unionByName(b0).distinct().count()
    cells_per_key = FIXED_WIDTH / nd0

    out: dict[str, dict] = {}
    for label, d in (("sf0.1", SF01), ("sf1", sf1_dir)):
        a, b = slices(d)
        nd = a.unionByName(b).distinct().count()
        row: dict = {"n_distinct_keys": nd}
        for arm, width in (
            ("fixed_width", FIXED_WIDTH),
            ("width_per_key", max(64, int(round(cells_per_key * nd)))),
        ):
            r = sketch.cms_join_size(a, b, "pk", width=width).collect()[0]
            row[arm] = {
                "width": width,
                "est_join_size": r["est_join_size"],
                "exact_join_size": r["exact_join_size"],
                "overestimate_ppm": r["overestimate_ppm"],
            }
            print(f"{label} {arm}: width {width}  est {r['est_join_size']}  "
                  f"exact {r['exact_join_size']}  ppm {r['overestimate_ppm']}")
        out[label] = row
        spark.catalog.clearCache()

    def ratio(arm):
        return round(
            out["sf1"][arm]["overestimate_ppm"] / out["sf0.1"][arm]["overestimate_ppm"], 2
        )

    summary = {
        "protocol": "CMS inner-product join-size estimate on the graded "
        "lineitem A/N partkey slices at sf0.1 and x10 (make_scale sf1); "
        "error term ~ N_A*N_B/width, so fixed width must degrade ~10x per "
        "10x while width scaled to hold CELLS PER DISTINCT KEY constant "
        "(the bits-per-key analog) holds the designed ratio",
        "cells_per_key": round(cells_per_key, 3),
        "points": out,
        "fixed_width_ppm_ratio_per_10x": ratio("fixed_width"),
        "width_per_key_ppm_ratio_per_10x": ratio("width_per_key"),
        "constant": "width per distinct join key (cells/key); size the grid "
        "from a distinct-count estimate (HLL) of the join column, exactly "
        "like bloom bits/key",
    }
    from bench import merge_detail

    merge_detail({"cms_scale": summary})
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
