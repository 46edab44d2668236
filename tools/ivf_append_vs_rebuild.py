#!/usr/bin/env python
"""Prove the IVF delta-append path is O(delta), not O(corpus) (VERDICT r7 #5).

The graded ``emb_ivf_incremental_topk`` asserts CORRECTNESS of the
frozen-centroid append (append == fresh rebuild, probe-graded); this tool
measures the SCALING claim behind it: as the corpus x10s with a FIXED
absolute delta (the production shape — a day's arrivals don't grow because
the index is big), the append wall must stay near-flat (delta-sized
assignment + delta-sized partitioned write + fixed job floor) while the
full rebuild grows ~linearly with the corpus (it re-assigns and rewrites
everything).

Results merge into BENCH_DETAIL.json under ``ivf_append_scale``.

Usage: python tools/ivf_append_vs_rebuild.py [SF1_DIR]
       (default /tmp/spark_graft_scale/sf1; regenerate with make_scale.py)
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

SF01 = "/root/testdata/sf0.1"
DELTA_ROWS = 200  # the FIXED day's arrivals, independent of corpus size
# (the sf0.1 embeddings fixture is 2000 rows; the delta must be a small slice
# of the SMALLEST corpus or the base-scale point degenerates to delta==corpus)


def main() -> None:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale/sf1"

    from pyspark.sql import functions as F

    from us_equity_datalake_spark.operators import similarity
    from us_equity_datalake_spark.session import get_spark
    from us_equity_datalake_spark.sources.registry import load_table

    spark = get_spark("ivf-append-scale")
    out: dict[str, dict] = {}

    for label, d in (("sf0.1", SF01), ("sf1", sf1_dir)):
        emb = load_table(spark, "embeddings", d)
        lo = emb.agg(F.min("vec_id")).collect()[0][0]
        delta = emb.where(F.col("vec_id") < lo + DELTA_ROWS)
        base = emb.where(F.col("vec_id") >= lo + DELTA_ROWS)
        n_base, n_delta = base.count(), delta.count()
        centroids = base.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        root = os.path.join(tempfile.gettempdir(), f"quantlake_ivfscale_{label}")
        shutil.rmtree(root, ignore_errors=True)
        idx = os.path.join(root, "index")

        # land the base index once (not timed: both paths start from it)
        similarity.assign_to_centroids(base, centroids).write.partitionBy(
            "centroid_id"
        ).parquet(idx)

        # timed: the delta assigns against FROZEN centroids and APPENDS
        t0 = time.time()
        similarity.assign_to_centroids(delta, centroids).write.mode(
            "append"
        ).partitionBy("centroid_id").parquet(idx)
        wall_append = time.time() - t0

        # timed: the full rebuild of base+delta (what append avoids)
        idx2 = os.path.join(root, "index_full")
        t0 = time.time()
        similarity.assign_to_centroids(
            base.unionByName(delta), centroids
        ).write.partitionBy("centroid_id").parquet(idx2)
        wall_rebuild = time.time() - t0

        out[label] = {
            "n_base": n_base,
            "n_delta": n_delta,
            "append_s": round(wall_append, 3),
            "rebuild_s": round(wall_rebuild, 3),
        }
        print(f"{label}: base {n_base}  delta {n_delta}  "
              f"append {wall_append:.2f}s  rebuild {wall_rebuild:.2f}s")
        shutil.rmtree(root, ignore_errors=True)
        spark.catalog.clearCache()

    summary = {
        "protocol": f"FIXED {DELTA_ROWS}-row delta appended to a frozen-"
        "centroid partitioned index vs full re-assign+rewrite, corpus x10 "
        "(make_scale sf1); append must be ~flat (O(delta) + job floor), "
        "rebuild ~linear in corpus",
        "points": out,
        "append_ratio_per_10x": round(out["sf1"]["append_s"] / out["sf0.1"]["append_s"], 2),
        "rebuild_ratio_per_10x": round(out["sf1"]["rebuild_s"] / out["sf0.1"]["rebuild_s"], 2),
    }
    from bench import merge_detail

    merge_detail({"ivf_append_scale": summary})
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
