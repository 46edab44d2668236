#!/usr/bin/env python
"""sf10 ladder extension for the JOIN and QUANT tiers (VERDICT r4 #4).

Round 4's three-point ladder covered documents/embeddings/events; this tool
adds the missing tiers at the 10x step (sf1 -> sf10 on key-shifted replicas,
tools/make_scale.py):

- TPC-H joins (q1/q3/q5/q9/q18/q21) + the bucketed SMJ rollup and scd2_merge
  against a 100x lineitem/orders/customer subset (60M-row lineitem);
- the events-based quant tier (LOCF/VWAP/beta/drawdown/realized vol) against
  the 100x events subset;
- ONE incremental-maintenance day at a realistic universe: 4000 symbols x
  20 concepts x 40 quarters landed on day 1 (3.2M rows), day 2 appending one
  fresh quarter for 40 symbols (a light filing day, 1%) — measured at BOTH
  64 and 512 buckets.  The run asserts the incremental path rebuilt well
  under the bucket count and records day-2 wall for BOTH the incremental and
  full-rebuild paths — the pruning win is the ratio, and the 64-vs-512
  contrast is the granularity lesson (buckets must scale with universe /
  daily-touch size).

Gate: every sf10/sf1 ratio <= 15 per 10x step (same bound as the r4 ladder).
Results land under BENCH_DETAIL.json's ``sf10_joins`` key.

Usage: python tools/scale_smoke_joins.py [SF1_DIR] [SF10_JOIN_DIR] [SF10_EVENTS_DIR]
  SF1_DIR          all-tables 10x replica   (default /tmp/spark_graft_scale/sf1)
  SF10_JOIN_DIR    100x lineitem/orders/customer (default .../sf10j)
  SF10_EVENTS_DIR  100x documents/embeddings/events (default .../sf10)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JOIN_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit",
    "tpch_q18_large_volume_customers",
    "tpch_q21_waiting_supplier",
    "bucketed_smj_rollup",
    "scd2_merge",
    # round 6: iterative + sketch tiers over the 100x orders/lineitem subset
    "graph_pagerank_report",
    "theta_set_report",
    # round 7: the r6 session-3 family (part/supplier now replicate, so the
    # sf10j subset must be generated with part,supplier in its tables_csv)
    "theta_merge_report",
    "cms_join_size_report",
    "bloom_decontamination_report",
    "fuzzy_part_match",
]
QUANT_EVENT_QUERIES = [
    "locf_ffill_calendar",
    "vwap_daily",
    "beta_vs_market",
    "max_drawdown",
    "realized_vol_daily",
]

N_SYM, N_CONCEPTS, N_QUARTERS, TOUCH_EVERY = 4000, 20, 40, 100


def _build_fund_raw(spark, sf_dir, *, day: int, n_sym: int = None, touch_every: int = None):
    """Synthesize a fundamentals batch from the scaled customer table:
    day 1 = N_CONCEPTS x N_QUARTERS per symbol; day 2 = one fresh quarter
    for every touch_every-th symbol (a light filing day, which is when
    bucket pruning matters most).  n_sym/touch_every default to the module
    constants; scale_maintenance_floor.py passes 10x values."""
    from pyspark.sql import functions as F

    from us_equity_datalake_spark.sources.registry import load_table

    n_sym = n_sym or N_SYM
    touch_every = touch_every or TOUCH_EVERY
    # make_scale shifts each replica's custkeys by copy*10M, so a plain
    # `< n_sym` filter saturates at one copy's 15k keys; densify first
    # (identity for n_sym <= 15000, i.e. the r5 b64/b512 points)
    dense = (F.col("c_custkey") % 10_000_000) + (F.col("c_custkey") / 10_000_000).cast("long") * 15_000
    # c_name repeats across replicas — derive a unique symbol from the
    # dense key so the lake's dedup/bucket keys never collide cross-copy
    cust = (
        load_table(spark, "customer", sf_dir)
        .select(dense.alias("k"))
        .filter(F.col("k") < n_sym)
        .select("k", F.concat(F.lit("SYM"), F.col("k")).alias("sym"))
    )
    if day == 2:
        cust = cust.filter(F.col("k") % touch_every == 0)
        quarters = [N_QUARTERS]  # one fresh quarter
    else:
        quarters = list(range(N_QUARTERS))
    concepts = spark.range(N_CONCEPTS).select(
        F.concat(F.lit("c"), F.col("id")).alias("concept")
    )
    qdf = spark.createDataFrame([(q,) for q in quarters], "qi int")
    base = cust.crossJoin(concepts).crossJoin(qdf)
    year, qn = 2010 + F.col("qi") / 4, F.col("qi") % 4 + 1
    return base.select(
        F.col("sym").alias("symbol"),
        "concept",
        F.lit("Tag").alias("tag"),
        F.lit(1).alias("tag_priority"),
        (F.col("k") * 100 + F.col("qi")).cast("double").alias("value"),
        F.concat(F.col("sym"), F.lit("-"), F.col("concept"), F.lit("-"), F.col("qi")).alias("accn"),
        F.lit("10-Q").alias("form"),
        F.date_add(F.make_date(year.cast("int"), (qn * 3).cast("int"), F.lit(28)), 30).alias("filed"),
        F.make_date(year.cast("int"), ((qn - 1) * 3 + 1).cast("int"), F.lit(1)).alias("start"),
        F.make_date(year.cast("int"), (qn * 3).cast("int"), F.lit(28)).alias("end"),
        F.concat(F.lit("CY"), year.cast("int"), F.lit("Q"), qn.cast("int")).alias("frame"),
    )


def _maintenance_point(spark, sf_dir, label: str, *, n_buckets: int = 64) -> dict:
    """Land day 1 (full), then time day 2 twice — incremental (bucket-pruned)
    and full rebuild — over the same lake state.

    Measured granularity finding (first run, n_buckets=64): a 40-symbol day
    over a 4000-symbol universe touches ~30 of 64 buckets (the balls-in-bins
    expectation 64·(1-(63/64)^40) ≈ 30), i.e. ~45% of the lake — so the
    pruned day-2 ran at ~1.0x the full rebuild.  Bucket count must scale
    with universe size / daily-touch count: at 512 buckets the same day
    touches ≤ 40 buckets (~8% of the lake) and the pruning win is real.
    Both points are recorded."""
    import shutil
    import tempfile

    from us_equity_datalake_spark.equity.daily_job import LakePaths, update_fundamentals

    def _quiesce():
        # flush dirty pages from the previous write phase and force a full GC
        # so neither taxes the next timed window (same rationale as bench.py)
        try:
            os.sync()
        except Exception:
            pass
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    out: dict = {"n_buckets": n_buckets}
    day1 = _build_fund_raw(spark, sf_dir, day=1).localCheckpoint(eager=True)
    day2 = _build_fund_raw(spark, sf_dir, day=2).localCheckpoint(eager=True)
    out["day1_rows"] = day1.count()
    out["day2_rows"] = day2.count()
    for mode in ("incremental", "full"):
        root = tempfile.mkdtemp(prefix=f"quantlake_sf10_maint_{label}_{mode}_")
        shutil.rmtree(root, ignore_errors=True)
        lp = LakePaths(root)
        try:
            update_fundamentals(spark, lp, day1, incremental=True, n_buckets=n_buckets,
                                report_counts=False)  # landing, untimed
            # day 2 best-of-2 on the landed lake: the rebuild phase (the
            # thing being measured) is identical on the replay — the append
            # dedups to 0 rows but 'touched' comes from the batch, so the
            # same buckets recompute
            best = -1.0
            for _ in range(2):
                _quiesce()
                t0 = time.time()
                r2 = update_fundamentals(spark, lp, day2, incremental=(mode == "incremental"),
                                         n_buckets=n_buckets, report_counts=False)
                dt = time.time() - t0
                best = dt if best < 0 else min(best, dt)
            out[f"day2_sec_{mode}"] = round(best, 3)
            out[f"day2_buckets_{mode}"] = r2["derived_buckets_rebuilt"]
        finally:
            shutil.rmtree(root, ignore_errors=True)
    assert 0 < out["day2_buckets_incremental"] < n_buckets, out
    out["pruning_speedup"] = (
        round(out["day2_sec_full"] / out["day2_sec_incremental"], 2)
        if out["day2_sec_incremental"] > 0
        else None
    )
    return out


def main() -> None:
    argv = list(sys.argv[1:])
    only: set[str] = set()
    if "--only" in argv:
        # --only NAME...: measure just those queries and MERGE them into the
        # existing sf10_joins record (maintenance points untouched)
        i = argv.index("--only")
        only = set(argv[i + 1 :])
        argv = argv[:i]
    sf1 = argv[0] if len(argv) > 0 else "/tmp/spark_graft_scale/sf1"
    sf10j = argv[1] if len(argv) > 1 else "/tmp/spark_graft_scale/sf10j"
    sf10e = argv[2] if len(argv) > 2 else "/tmp/spark_graft_scale/sf10"

    import __spark_entry__ as entrymod
    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("scale-smoke-joins")
    qs = entrymod.queries()

    plan = [(n, sf10j) for n in JOIN_QUERIES] + [(n, sf10e) for n in QUANT_EVENT_QUERIES]
    if only:
        plan = [(n, d) for n, d in plan if n in only]
    # codegen warmup (same protocol as bench.py / scale_smoke.py)
    for name, _ in plan:
        try:
            qs[name](spark, "/root/testdata/sf0.01").count()
        except Exception as e:
            print(f"warmup {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name, sf10_dir in plan:
        row: dict = {}
        for label, d in (("sf1", sf1), ("sf10", sf10_dir)):
            best, rows = -1.0, -1
            try:
                for _ in range(2):
                    t0 = time.time()
                    rows = qs[name](spark, d).count()
                    best = (time.time() - t0) if best < 0 else min(best, time.time() - t0)
            except Exception as e:
                print(f"{name}@{label} failed: {e}", file=sys.stderr)
            row[label] = round(best, 3)
            row[f"rows_{label}"] = rows
            spark.catalog.clearCache()
        row["ratio_10x"] = (
            round(row["sf10"] / row["sf1"], 2) if row["sf1"] > 0 and row["sf10"] > 0 else None
        )
        out[name] = row
        print(f"{name}: sf1 {row['sf1']}s  sf10 {row['sf10']}s  ratio {row['ratio_10x']}")
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    from bench import load_detail, merge_detail

    if only:
        # merge mode: splice the measured rows into the committed record
        joins = load_detail()["sf10_joins"]
        joins["queries"].update(out)
        over = {n: r["ratio_10x"] for n, r in joins["queries"].items()
                if r.get("ratio_10x") and r["ratio_10x"] > 15}
        joins["n_gated"] = len(joins["queries"])
        joins["n_over_15x"] = len(over)
        joins["over_15x"] = over
        merge_detail({"sf10_joins": joins})
        print(json.dumps({"sf10_joins_only": {"n": len(out), "n_over_15x": len(over), "over_15x": over}}))
        spark.stop()
        return

    maint = {
        "b64": _maintenance_point(spark, sf10j, "sf10", n_buckets=64),
        "b512": _maintenance_point(spark, sf10j, "sf10", n_buckets=512),
    }
    print(f"maintenance: {maint}")

    over = {n: r["ratio_10x"] for n, r in out.items() if r["ratio_10x"] and r["ratio_10x"] > 15}
    summary = {
        "protocol": "sf1 -> sf10 (10x step) on key-shifted replicas; joins vs "
        "100x lineitem/orders/customer (60M-row lineitem), quant vs 100x "
        "events; gate ratio <= 15; plus one 64-bucket incremental-maintenance "
        f"day at {N_SYM} symbols x {N_CONCEPTS} concepts x {N_QUARTERS} "
        f"quarters, day 2 touching {N_SYM // TOUCH_EVERY} symbols (~1%)",
        "queries": out,
        "maintenance_sf10": maint,
        "granularity_note": "a 40-symbol day hashes into ~30 of 64 buckets "
        "(balls-in-bins: 64*(1-(63/64)^40)=29.8) = ~45% of the lake, vs <=40 "
        "of 512 (~8%); the wall speedup at this fixture (~1.3x both points) "
        "is floor-bound — per-job scheduling plus the ~10 fixed write/read "
        "jobs dominate a 3.2M-row lake, so pruning 92% of buckets only "
        "shaves the rebuild stages. The scan/rebuild cost is what grows "
        "with data; the fixed overhead is not, so the bucket-count lesson "
        "(scale buckets with universe size, validated by the persisted "
        "modulus sidecar) is the durable artifact, not the fixture wall",
        "fixture_capped": {
            "scd2_merge": "oracle pins the dimension to c_custkey <= 2000, so "
            "the input does not grow with SF — the ~1.0 ratio measures the "
            "fixture, not scaling",
            "bucketed_smj_rollup": "builds its own bucketed tables from a "
            "bounded fixture slice; ~1.0 ratio is the fixture floor",
        },
        "n_gated": len(out),
        "n_over_15x": len(over),
        "over_15x": over,
    }
    merge_detail({"sf10_joins": summary})
    print(json.dumps({"sf10_joins": {"n": len(out), "n_over_15x": len(over), "over_15x": over,
                                     "maint_buckets_64": maint["b64"]["day2_buckets_incremental"],
                                     "speedup_64": maint["b64"]["pruning_speedup"],
                                     "maint_buckets_512": maint["b512"]["day2_buckets_incremental"],
                                     "speedup_512": maint["b512"]["pruning_speedup"]}}))
    spark.stop()


if __name__ == "__main__":
    main()
