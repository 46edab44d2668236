#!/usr/bin/env python
"""Skew evidence at sf10: plain vs salted vs AQE under REAL skew (VERDICT
r5 #7).

The salted operators are oracle-graded against their plain twins at sf0.1
and the AQE skew split is plan-asserted, but no measurement showed salting
WINNING on a skewed key at scale.  This tool builds it:

- a Zipf(α≈1.2)-keyed fact table at the sf10 join tier's row count (40M
  rows; key = floor(u^(-1/α)) via the inverse CDF over a deterministic
  per-row hash — P(key=1) = 1 - 2^(-α) ≈ 0.56, so the head key alone
  holds over half the table, the hot-entity shape at its worst), written
  once to parquet under /tmp/spark_graft_scale/skew;
- a 1M-row dimension keyed the same way, NOT broadcastable (auto-broadcast
  disabled for the experiment — with broadcast on, Spark simply broadcasts
  the dim and join skew vanishes, which is lesson zero and is recorded as
  its own arm).

Arms, each timed best-of-2 (identical results asserted across arms).

WIDE JOIN (fact ⋈ dim, aggregate carries v+row_id so the fact shuffle
ships real payload bytes — the honest shape of a production join):
  j_plain_noaqe   sort-merge, AQE skew split OFF — the straggler baseline:
                  one task sorts/joins the entire hot key.
  j_aqe_skew      sort-merge, AQE skewJoin ON at DEFAULT thresholds
                  (skewedPartitionThresholdInBytes=256m).
  j_aqe_skew_tuned same, thresholds lowered (16m threshold / 8m advisory) —
                  at fixture scale the hot partition compresses under the
                  256m default, so this arm shows what the split buys once
                  detection actually fires.
  j_salted        operators.skew.salted_join, AQE skew OFF — the explicit
                  16-salt fan-out (dim replicated 16x).
  j_broadcast     explicit broadcast() of the dim (30 MB, above the 10 MB
                  auto threshold but trivially memory-fit): map-side BHJ,
                  no shuffle, skew is irrelevant.

NARROW JOIN (same join timed to a count() — Catalyst prunes the shuffle
to the bare key column, and 22.6M copies of a CONSTANT key lz4-compress
~40x to under 5 MB):
  jn_plain / jn_aqe_tuned — documents the detection gap: AQE's skew test
                  is BYTE-based (mapStats bytesByPartitionId), so a
                  row-skewed but byte-tiny partition is invisible at ANY
                  threshold while one reducer still burns tens of millions
                  of rows of CPU; salting is row-aware by construction.
                  (Verified against the OptimizeSkewedJoin debug log:
                  "median size: 154050, max size: 4777856 ... number of
                  skewed partitions: left 0".)

AGG (sum/count grouped by the zipf key):
  a_plain         plain groupBy — map-side partial agg already absorbs
                  value skew for algebraic aggregates.
  a_salted        operators.skew.salted_agg 16 salts — two-stage combine.

When each is the right tool (recorded with the numbers): AQE skew split is
the default fix wherever AQE sees the shuffle (batch SMJ/SHJ); explicit
salting is for what AQE cannot see — streaming stateful joins, foldable
aggregate combine on a single hot reducer, engines without runtime
re-planning; broadcast beats both whenever one side is dimension-sized.

Results merge into BENCH_DETAIL.json under ``skew_sf10``.

Usage: python tools/skew_bench.py [N_ROWS] (default 40_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DIM = 1_000_000
ALPHA = 1.2
ROOT = "/tmp/spark_graft_scale/skew"


def _build(spark, n_rows: int) -> tuple[str, str]:
    """Write the zipf fact + dim parquet once (deterministic; reused)."""
    from pyspark.sql import functions as F

    fact_path, dim_path = f"{ROOT}/fact", f"{ROOT}/dim"
    if not (os.path.isdir(fact_path) and os.path.isdir(dim_path)):
        # u in (0,1] from a per-row hash; key = floor(u^(-1/alpha)) capped to
        # the dim key space — inverse-CDF Zipf/Pareto, fully deterministic
        u = (F.pmod(F.hash(F.col("id")), F.lit(1_000_000)) + 1.0) / 1_000_000.0
        key = F.least(
            F.floor(F.pow(u, F.lit(-1.0 / ALPHA))).cast("long"), F.lit(N_DIM)
        ).alias("key")
        (
            spark.range(n_rows)
            .select(
                key,
                (F.col("id") % 1000).cast("double").alias("v"),
                F.col("id").alias("row_id"),
            )
            .write.mode("overwrite").parquet(fact_path)
        )
        (
            spark.range(1, N_DIM + 1)
            .select(F.col("id").alias("key"),
                    F.concat(F.lit("grp_"), (F.col("id") % 97)).alias("grp"))
            .write.mode("overwrite").parquet(dim_path)
        )
    return fact_path, dim_path


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000

    from pyspark.sql import functions as F

    from us_equity_datalake_spark.operators.skew import salted_agg, salted_join
    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("skew-bench")
    fact_path, dim_path = _build(spark, n_rows)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    hot = fact.groupBy("key").count().orderBy(F.desc("count")).limit(3).collect()
    hot_share = round(hot[0]["count"] / n_rows, 4)
    print(f"hot keys: {[(r['key'], r['count']) for r in hot]} "
          f"(head share {hot_share})", file=sys.stderr)

    def timed(fn, runs=2):
        best, rows = -1.0, -1
        for _ in range(runs):
            spark.catalog.clearCache()
            try:
                spark._jvm.System.gc()
            except Exception:
                pass
            t0 = time.time()
            rows = fn()
            dt = time.time() - t0
            best = dt if best < 0 else min(best, dt)
        return round(best, 3), rows

    def with_conf(pairs, fn):
        old = {k: spark.conf.get(k, None) for k in pairs}
        try:
            for k, v in pairs.items():
                spark.conf.set(k, v)
            return fn()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    NO_BHJ = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    SKEW_OFF = {"spark.sql.adaptive.skewJoin.enabled": "false"}
    SKEW_ON = {"spark.sql.adaptive.skewJoin.enabled": "true"}
    SKEW_TUNED = {
        **SKEW_ON,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    }

    out: dict = {
        "n_rows": n_rows, "n_dim": N_DIM, "alpha": ALPHA,
        "head_key_share": hot_share,
        "top3_keys": {str(r["key"]): r["count"] for r in hot},
    }

    def wide_agg(j):
        """Aggregate that NEEDS v+row_id downstream of the join, so Catalyst
        cannot prune the fact shuffle to the bare key — the payload-carrying
        shape where byte-based skew detection has something to see."""
        r = j.groupBy().agg(F.sum("v").alias("sv"),
                            F.sum("row_id").alias("sr"),
                            F.count("*").alias("n")).collect()[0]
        return (r["sv"], r["sr"], r["n"])

    wide_join = lambda: wide_agg(fact.join(dim, "key"))
    narrow_join = lambda: fact.join(dim, "key").count()
    arms = [
        ("j_plain_noaqe", lambda: with_conf({**NO_BHJ, **SKEW_OFF}, lambda: timed(wide_join))),
        ("j_aqe_skew", lambda: with_conf({**NO_BHJ, **SKEW_ON}, lambda: timed(wide_join))),
        ("j_aqe_skew_tuned", lambda: with_conf({**NO_BHJ, **SKEW_TUNED}, lambda: timed(wide_join))),
        ("j_salted", lambda: with_conf({**NO_BHJ, **SKEW_OFF}, lambda: timed(
            lambda: wide_agg(salted_join(fact, dim, on="key", n_salts=16))))),
        ("j_broadcast", lambda: timed(
            lambda: wide_agg(fact.join(F.broadcast(dim), "key")))),
    ]
    results = {}
    for name, run in arms:
        sec, res = run()
        out[name] = sec
        results[name] = res
        print(f"{name}: {sec}s result={res}", file=sys.stderr)
    base = results["j_plain_noaqe"]
    for name, res in results.items():
        # sr (sum of long row_id) and n are exact; sum-of-doubles order-varies
        assert res[1:] == base[1:] and abs(res[0] - base[0]) <= 1e-6 * abs(base[0]), \
            f"{name} disagrees: {res} vs {base}"
    out["join_rows"] = base[2]

    narrow = [
        ("jn_plain", lambda: with_conf({**NO_BHJ, **SKEW_OFF}, lambda: timed(narrow_join))),
        ("jn_aqe_tuned", lambda: with_conf({**NO_BHJ, **SKEW_TUNED}, lambda: timed(narrow_join))),
    ]
    n_rows_narrow = set()
    for name, run in narrow:
        sec, rows = run()
        out[name] = sec
        n_rows_narrow.add(rows)
        print(f"{name}: {sec}s rows={rows}", file=sys.stderr)
    assert n_rows_narrow == {base[2]}, (n_rows_narrow, base)

    agg_plain = lambda: fact.groupBy("key").agg(
        F.sum("v").alias("sv"), F.count("*").alias("n")).count()
    agg_salt = lambda: salted_agg(
        fact, keys=["key"], aggs={"sv": ("sum", "v"), "n": ("count", "v")},
        n_salts=16).count()
    out["a_plain"], ra = timed(agg_plain)
    out["a_salted"], rb = timed(agg_salt)
    assert ra == rb, (ra, rb)
    print(f"a_plain {out['a_plain']}s  a_salted {out['a_salted']}s", file=sys.stderr)

    out["note"] = (
        f"WIDE join walls (payload-carrying shuffle): plain-SMJ-no-AQE "
        f"{out['j_plain_noaqe']}s, AQE-skew default {out['j_aqe_skew']}s / "
        f"tuned-16m {out['j_aqe_skew_tuned']}s, salted(16) {out['j_salted']}s, "
        f"broadcast {out['j_broadcast']}s on a {out['head_key_share']:.0%}-hot "
        f"head key; NARROW (count()-pruned, key-only shuffle): plain "
        f"{out['jn_plain']}s vs AQE-tuned {out['jn_aqe_tuned']}s.  Findings: "
        "(1) AQE's skew detection is BYTE-based (mapStats "
        "bytesByPartitionId) — in the narrow arm the hot partition is 22.6M "
        "copies of one constant key that lz4-compress to ~4.8 MB, so NO "
        "threshold makes the split fire (OptimizeSkewedJoin debug: 'max "
        "size: 4777856 ... number of skewed partitions: left 0') while one "
        "reducer still pays 22.6M rows of CPU — byte-invisible row skew is "
        "exactly where explicit salting (row-aware by construction) is the "
        "only batch fix.  (2) In the wide arm detection has real bytes to "
        "see; the 256m default still under-fires at fixture scale (the hot "
        "partition compresses below it) — at 100 TB the hot partition "
        "dwarfs 256m and the default fires on its own, so the tuned arm is "
        "the honest preview of the split's value.  When each is the right "
        "tool: AQE skewJoin is the zero-code default wherever the skew is "
        "byte-visible in a batch shuffle; salting covers what AQE cannot "
        "see (byte-light row skew, streaming stateful joins, a single hot "
        "reducer in an aggregate combine) at the cost of an n_salts-"
        "replicated dim; broadcast wins outright whenever one side is "
        "dimension-sized (skew only exists in shuffles).  Plain groupBy "
        "already absorbs value skew for algebraic aggs via map-side partial "
        "aggregation — salted_agg pays an extra stage and only helps when "
        "the per-key partial rows themselves overwhelm one reducer "
        "(|keys| x n_salts combine rows are tiny here)."
    )
    from bench import merge_detail

    merge_detail({"skew_sf10": out})
    print(json.dumps({k: v for k, v in out.items() if k not in ("note", "top3_keys")}))
    spark.stop()


if __name__ == "__main__":
    main()
