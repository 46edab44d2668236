#!/usr/bin/env python
"""Deletion-vector scale curve (round 9): is merge-on-read DELETE bounded by
the HIT COUNT rather than the table size — and what does the DV read tax?

Protocol, on a fixed orders table at sf0.1 (8 orderkey-range files):

- dv_write: wall time of ``delete_where_dv`` deleting ~0.1% / 1% / 10% of
  rows (modulus predicates), on a FRESH table each time.  The scan to find
  hits is table-sized by design (one pushed read); the DV state written is
  hit-sized.  The comparison row is ``cow_delete`` — the copy-on-write
  ``delete_where`` of the same 10% predicate, which rewrites every touched
  file (here: all 8).
- dv_read: read-back aggregate (COUNT + SUM) at each deleted fraction vs
  the ``clean_read`` baseline (no vectors) — the broadcast-anti-join tax.

Writes BENCH_DETAIL.json key ``dv_scale``.  The production constants this
pins: DV write cost ~ flat in deleted fraction (scan-dominated) and far
under the CoW rewrite; DV read tax bounded (anti-join against a
hit-count-sized broadcast), so reads stay ~clean-scan speed at small
deleted fractions — the merge-on-read design point.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from us_equity_datalake_spark.session import get_spark
    from us_equity_datalake_spark.sources import snapshots as S

    spark = get_spark("dv-scale")
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    n_total = orders.count()

    def fresh(tag: str) -> str:
        root = os.path.join(tempfile.gettempdir(), f"quantlake_dvscale_{tag}")
        shutil.rmtree(root, ignore_errors=True)
        S.commit(orders.repartitionByRange(8, "o_orderkey"), root,
                 stats_cols=["o_orderkey"])
        return root

    def read_agg(root) -> float:
        t0 = time.time()
        S.read_version(spark, root).agg(
            F.count("*"), F.sum("o_totalprice")
        ).collect()
        return time.time() - t0

    out: dict = {
        "protocol": "fresh 8-file orders table per arm at sf0.1; dv_write = "
        "delete_where_dv wall at ~0.1/1/10% hit fractions vs cow_delete "
        "(copy-on-write delete_where, same 10% predicate); dv_read = "
        "COUNT+SUM readback at each fraction vs clean_read; best of 2 "
        "where cheap",
        "n_rows": n_total,
    }

    # warmup (codegen + python workers)
    w = fresh("warm")
    S.delete_where_dv(spark, w, F.col("o_orderkey") % 1000 == 1)
    read_agg(w)

    clean = fresh("clean")
    out["clean_read_sec"] = round(min(read_agg(clean), read_agg(clean)), 3)

    for tag, mod in (("0.1pct", 1000), ("1pct", 100), ("10pct", 10)):
        root = fresh(tag)
        t0 = time.time()
        r = S.delete_where_dv(spark, root, F.col("o_orderkey") % mod == 1)
        dt = time.time() - t0
        out[f"dv_write_{tag}"] = {
            "sec": round(dt, 3), "rows_deleted": r["rows_deleted"],
            "files_rewritten": r["files_rewritten"],
        }
        out[f"dv_read_{tag}_sec"] = round(min(read_agg(root), read_agg(root)), 3)

    root = fresh("cow")
    t0 = time.time()
    r = S.delete_where(spark, root, F.col("o_orderkey") % 10 == 1)
    out["cow_delete_10pct"] = {
        "sec": round(time.time() - t0, 3),
        "files_rewritten": r["files_rewritten"],
    }

    # ≥10⁶-position arm (round 10): past DV_BROADCAST_MAX_POSITIONS the scan
    # decodes sidecars executor-side and shuffle-anti-joins — the driver must
    # hold the FILE LIST only, never the positions.  ru_maxrss is measured
    # across the read: materializing 5M (file, pos) tuples driver-side would
    # cost ~400 MB; the distributed path should move it by ~0.
    import resource

    big_root = os.path.join(tempfile.gettempdir(), "quantlake_dvscale_big")
    shutil.rmtree(big_root, ignore_errors=True)
    big = spark.range(0, 8_000_000).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    )
    S.commit(big.repartitionByRange(8, "id"), big_root)
    rss_w0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.time()
    r = S.delete_where_dv(spark, big_root, F.col("id") % 8 < 5)
    out["dv_write_5m"] = {
        "sec": round(time.time() - t0, 3),
        "rows_deleted": r["rows_deleted"],
        "files_rewritten": r["files_rewritten"],
        # r10: sidecars written executor-side past DV_DRIVER_MAX_POSITIONS —
        # the driver never holds the position list on the write side either
        "driver_maxrss_delta_kb": resource.getrusage(
            resource.RUSAGE_SELF
        ).ru_maxrss - rss_w0,
    }
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.time()
    live = (
        S.read_version(spark, big_root)
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .first()
    )
    out["dv_read_5m"] = {
        "sec": round(time.time() - t0, 3),
        "rows_live": int(live["n"]),
        "distributed": r["rows_deleted"] > S.DV_BROADCAST_MAX_POSITIONS,
        "driver_maxrss_delta_kb": resource.getrusage(
            resource.RUSAGE_SELF
        ).ru_maxrss - rss0,
    }
    shutil.rmtree(big_root, ignore_errors=True)

    spark.stop()
    from bench import merge_detail

    merge_detail({"dv_scale": out})
    print(json.dumps({"dv_scale": out}))


if __name__ == "__main__":
    main()
