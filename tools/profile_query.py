#!/usr/bin/env python
"""Per-query job/stage profile via the Spark event log (guide §1/§7).

Runs the named queries (bench protocol: noop sink, warm second run timed)
with ``spark.eventLog.enabled`` and then parses the event log into a
per-query breakdown: wall seconds, Spark job count, per-job duration with
the job description/call site, and per-stage task counts + shuffle bytes.
This is how we find WHERE a 5 s query spends its time — scheduling overhead
(many tiny jobs), one slow stage, or shuffle volume.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] query [query ...]
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
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--jobs", type=int, default=12, help="top-N jobs to print per query")
    ap.add_argument("--gaps", action="store_true", help="chronological job list with driver gaps")
    ap.add_argument("--all", action="store_true",
                    help="include untagged jobs (streaming engine batches set "
                    "their own description) in the chronological view")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    evdir = f"/tmp/quantlake_eventlog_{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", args.sf)

    from pyspark.sql import SparkSession

    # mirror session.get_spark but with the event log on
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from us_equity_datalake_spark import session as sess

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
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
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    walls: dict[str, float] = {}
    for name in args.queries:
        fn = qmap[name]
        best = -1.0
        for r in range(max(1, args.runs)):
            tag = f"PROF:{name}:run{r}"
            spark.sparkContext.setJobDescription(tag)
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best < 0 else min(best, dt)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        walls[name] = best
    spark.stop()

    # ---- parse the event log ----------------------------------------
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):  # Spark 4 rolling layout
        d = os.path.join(evdir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.startswith("events_")
        )
    else:
        parts = [path]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    import itertools

    with open(os.devnull) as _dn:
        lines = itertools.chain.from_iterable(open(p) for p in parts)
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description", ""),
                    "callsite": props.get("callSite.short", ""),
                    "t0": ev.get("Submission Time", 0),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "ntasks": sum(s.get("Number of Tasks", 0) for s in ev.get("Stage Infos", [])),
                }
            elif et == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["t1"] = ev.get("Completion Time", j["t0"])
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "ntasks": si.get("Number of Tasks", 0),
                    "dur": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0,
                }

    per_q: dict[str, dict] = {}
    for jid, j in sorted(jobs.items()):
        desc = j.get("desc", "")
        if not desc.startswith("PROF:"):
            qname, run = "__untagged__", "?"
        else:
            _, qname, run = desc.split(":", 2)
        d = per_q.setdefault(qname, {"runs": {}})
        r = d["runs"].setdefault(run, {"jobs": [], "ms": 0, "ntasks": 0})
        dur = j.get("t1", j["t0"]) - j["t0"]
        r["jobs"].append((dur, jid, j.get("callsite", ""), j.get("ntasks", 0)))
        r["ms"] += dur
        r["ntasks"] += j.get("ntasks", 0)

    for qname in args.queries:
        d = per_q.get(qname)
        print(f"\n=== {qname}  wall(best)={walls.get(qname, -1):.3f}s ===")
        if not d:
            print("  (no tagged jobs)")
            continue
        for run in sorted(d["runs"]):
            r = d["runs"][run]
            print(f"  {run}: {len(r['jobs'])} jobs, {r['ms']/1000.0:.3f}s in-job, {r['ntasks']} tasks")
        last = d["runs"][sorted(d["runs"])[-1]]
        for dur, jid, cs, nt in sorted(last["jobs"], reverse=True)[: args.jobs]:
            print(f"    job {jid:4d}  {dur/1000.0:7.3f}s  tasks={nt:4d}  {cs}")
        if args.gaps:
            # chronological: driver gap BEFORE each job (plan/commit/listing
            # time between actions — the part task metrics never show)
            chron = sorted(last["jobs"], key=lambda t: t[1])
            if args.all and chron:
                # pull in every untagged job (streaming micro-batches) that
                # ran inside this run's job-id window, with its own desc
                lo, hi = chron[0][1], chron[-1][1]
                extra = [
                    (j.get("t1", j["t0"]) - j["t0"], jid,
                     (j.get("desc", "") or j.get("callsite", ""))[:80],
                     j.get("ntasks", 0))
                    for jid, j in jobs.items()
                    if lo < jid < hi and not j.get("desc", "").startswith("PROF:")
                ]
                chron = sorted(chron + extra, key=lambda t: t[1])
            prev_end = None
            print("    --- chronological with driver gaps ---")
            for dur, jid, cs, nt in chron:
                t0, t1 = jobs[jid]["t0"], jobs[jid].get("t1", jobs[jid]["t0"])
                gap = (t0 - prev_end) / 1000.0 if prev_end is not None else 0.0
                prev_end = t1
                print(
                    f"    gap {gap:6.3f}s | job {jid:4d} {dur/1000.0:7.3f}s tasks={nt:4d}  {cs}"
                )
    if "__untagged__" in per_q:
        n = sum(len(r["jobs"]) for r in per_q["__untagged__"]["runs"].values())
        print(f"\n(untagged jobs: {n})")
    print(f"\nevent log: {path}")


if __name__ == "__main__":
    main()
