#!/usr/bin/env python
"""Measure the availableNow ENGINE floor and candidate knobs (VERDICT r12 #3).

A minimal file-source -> stateless projection -> parquet-sink stream isolates
the per-run engine cost (query start, offset/commit WAL, batch planning, file
listing, sink metadata log) from any of our lake work.  Runs the same
two-availableNow-runs-per-checkpoint shape the 16 graded sinks use, best-of-N,
under each candidate conf set, and prints per-config seconds.

Usage: python tools/stream_floor_probe.py [--runs N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_UNSET = object()  # a conf that was not set before a config's run

CONFIGS = {
    # engine defaults (what the sinks run today)
    "baseline": {},
    # fewer retained batches -> smaller metadata logs to read on restart
    "minBatchesToRetain=2": {"spark.sql.streaming.minBatchesToRetain": "2"},
    # file-source/file-sink log compaction off the hot path
    "log.compactInterval=2": {
        "spark.sql.streaming.fileSource.log.compactInterval": "2",
        "spark.sql.streaming.fileSink.log.compactInterval": "2",
    },
    "log.compactInterval=100": {
        "spark.sql.streaming.fileSource.log.compactInterval": "100",
        "spark.sql.streaming.fileSink.log.compactInterval": "100",
    },
    # state-store maintenance thread (fires every 60s; should be inert here)
    "maintenance=600s": {
        "spark.sql.streaming.stateStore.maintenanceInterval": "600s"
    },
    # progress/metrics reporting
    "noProgressRetention": {
        "spark.sql.streaming.numRecentProgressUpdates": "1"
    },
}


def one_cycle(spark, src_dir: str, root: str, tag: str) -> float:
    """Two availableNow runs against one fresh checkpoint (the graded shape);
    returns wall seconds for both runs together.  The stream is built on
    ``spark`` itself, so the confs a config sets on it apply."""
    from pyspark.sql import functions as F

    from us_equity_datalake_spark.streaming.jobs import run_available_now

    sink = os.path.join(root, f"sink_{tag}")
    ckpt = os.path.join(root, f"ckpt_{tag}")
    schema = spark.read.parquet(src_dir).schema
    t0 = time.time()
    for _ in range(2):
        stream = spark.readStream.schema(schema).parquet(src_dir).select(F.col("*"))
        run_available_now(stream, checkpoint=ckpt, path=sink)
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("stream-floor")
    root = tempfile.mkdtemp(prefix="stream_floor_")
    # small single-file source: engine cost dominates, data cost ~0
    src_dir = os.path.join(root, "src")
    spark.read.parquet(os.path.join(SF, "nation.parquet")).coalesce(1).write.parquet(src_dir)

    # JVM/codegen warmup cycle (not timed)
    one_cycle(spark, src_dir, root, "warm")

    results = {}
    for name, confs in CONFIGS.items():
        # spark.conf.get resolves an unset conf to its default, and setting
        # that back would pin it; getAll holds only the confs actually set
        was_set = spark.conf.getAll
        olds = {k: was_set.get(k, _UNSET) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        best = None
        try:
            for i in range(args.runs):
                dt = one_cycle(spark, src_dir, root, f"{name}_{i}")
                best = dt if best is None else min(best, dt)
        finally:
            for k, v in olds.items():
                if v is _UNSET:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        results[name] = round(best, 3)
        print(f"{name:28s} best-of-{args.runs}: {best:.3f}s", flush=True)

    shutil.rmtree(root, ignore_errors=True)
    print(results)


if __name__ == "__main__":
    main()
