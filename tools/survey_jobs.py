#!/usr/bin/env python
"""Registry-wide job survey: one warm run per query under the event log,
then a compact per-query report — wall, job count, task count, and the
slowest job's (duration, tasks) — to find queries bottlenecked on a
low-parallelism job (1-4 tasks carrying most of the wall) or on job-count
overhead (guide §1/§2.5).

Usage: python tools/survey_jobs.py [--sf DIR] [--filter PREFIX] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--filter", default="")
    ap.add_argument("--out", default="/tmp/survey_jobs.json")
    args = ap.parse_args()

    evdir = f"/tmp/quantlake_eventlog_{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    from pyspark.sql import SparkSession

    from us_equity_datalake_spark import session as sess

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("survey")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", sess._driver_memory())
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in sess._DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    names = [n for n in qmap if n.startswith(args.filter)]
    walls: dict[str, float] = {}
    for i, name in enumerate(names):
        fn = qmap[name]
        try:
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()  # warm
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"SRV:{name}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            walls[name] = time.time() - t0
        except Exception as e:
            print(f"{name} FAILED: {e}", file=sys.stderr)
            walls[name] = -1.0
        finally:
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        if (i + 1) % 10 == 0:
            try:
                spark._jvm.System.gc()
            except Exception:
                pass
    spark.stop()

    jobs: dict[int, dict] = {}
    with open(os.path.join(evdir, app_id)) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description", ""),
                    "t0": ev.get("Submission Time", 0),
                    "ntasks": sum(s.get("Number of Tasks", 0) for s in ev.get("Stage Infos", [])),
                }
            elif et == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["t1"] = ev.get("Completion Time", j["t0"])

    per: dict[str, dict] = {}
    for jid, j in sorted(jobs.items()):
        desc = j.get("desc", "")
        if not desc.startswith("SRV:"):
            continue
        name = desc[4:]
        d = per.setdefault(name, {"njobs": 0, "ntasks": 0, "injob": 0.0, "top": (0.0, 0)})
        dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        d["njobs"] += 1
        d["ntasks"] += j["ntasks"]
        d["injob"] += dur
        if dur > d["top"][0]:
            d["top"] = (dur, j["ntasks"])

    rows = []
    for name in names:
        d = per.get(name, {})
        rows.append({
            "query": name,
            "wall": round(walls.get(name, -1), 3),
            "njobs": d.get("njobs", 0),
            "ntasks": d.get("ntasks", 0),
            "injob": round(d.get("injob", 0.0), 3),
            "top_job_s": round(d.get("top", (0, 0))[0], 3),
            "top_job_tasks": d.get("top", (0, 0))[1],
        })
    with open(args.out, "w") as f:
        json.dump(rows, f, indent=1)
    rows.sort(key=lambda r: -r["wall"])
    print(f"{'query':45s} {'wall':>6s} {'jobs':>4s} {'tasks':>5s} {'injob':>6s} {'topjob':>6s} {'toptk':>5s}")
    for r in rows:
        print(f"{r['query']:45s} {r['wall']:6.2f} {r['njobs']:4d} {r['ntasks']:5d} "
              f"{r['injob']:6.2f} {r['top_job_s']:6.2f} {r['top_job_tasks']:5d}")


if __name__ == "__main__":
    main()
