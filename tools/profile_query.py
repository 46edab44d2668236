#!/usr/bin/env python
"""Per-query job/stage profile via the Spark event log (guide §1/§7).

Runs the named queries (bench protocol: noop sink, warm second run timed)
on the engine's own session (``session.get_spark``) with
``spark.eventLog.enabled`` and then parses the event log into a per-query
breakdown: wall seconds, Spark job count, and per-job duration and task
count with the job description/call site.
This is how we find WHERE a 5 s query spends its time — scheduling overhead
(many tiny jobs), one slow stage, or shuffle volume.

With ``--filter PREFIX`` and no names, every registered query with that
prefix is profiled (``--filter ''`` surveys the whole registry); ``--out``
writes one JSON row per query — wall, job count, task count, in-job seconds
and the slowest job's (seconds, tasks) — to find queries bottlenecked on a
low-parallelism job (1-4 tasks carrying most of the wall) or on job-count
overhead (guide §1/§2.5).

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] query [query ...]
    python tools/profile_query.py [--sf DIR] --filter PREFIX [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _profile(args, evdir: str):
    """Run the queries on an event-logging session writing to ``evdir``;
    returns (names, best walls, {job id: job}) read back from the log."""
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", args.sf)
    # the event log is a launch-time conf: hand it to the JVM that
    # get_spark starts, so the profiled session is the engine's own
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir={evdir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell")

    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("profile")
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    names = args.queries or [n for n in qmap if n.startswith(args.filter)]
    walls: dict[str, float] = {}
    for i, name in enumerate(names):
        fn = qmap[name]
        best = -1.0
        try:
            for r in range(max(1, args.runs)):
                spark.sparkContext.setJobDescription(f"PROF:{name}:run{r}")
                t0 = time.time()
                fn(spark, args.sf).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best < 0 else min(best, dt)
                spark.sparkContext.setJobDescription(None)
                spark.catalog.clearCache()
        except Exception:  # a sweep reports the failure and goes on
            print(f"{name} FAILED", file=sys.stderr)
            traceback.print_exc()
            best = -1.0
        finally:
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        walls[name] = best
        if (i + 1) % 10 == 0:
            spark._jvm.System.gc()
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

    def _lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    for line in _lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos", [])
            # callSite.short is often absent from the job's properties; Spark
            # names the result stage (the highest Stage ID) after it
            result = max(stages, key=lambda s: s.get("Stage ID", -1), default={})
            jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description", ""),
                "callsite": props.get("callSite.short") or result.get("Stage Name", ""),
                "t0": ev.get("Submission Time", 0),
                "ntasks": sum(s.get("Number of Tasks", 0) for s in stages),
            }
        elif et == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["t1"] = ev.get("Completion Time", j["t0"])
    return names, walls, jobs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--jobs", type=int, default=12, help="top-N jobs to print per query")
    ap.add_argument("--gaps", action="store_true", help="chronological job list with driver gaps")
    ap.add_argument("--all", action="store_true",
                    help="include untagged jobs (streaming engine batches set "
                    "their own description) in the chronological view")
    ap.add_argument("--filter", default=None, metavar="PREFIX",
                    help="with no query names: every registered query with this prefix")
    ap.add_argument("--out", default=None, metavar="FILE",
                    help="write one JSON row per query (wall, njobs, ntasks, injob, "
                    "top_job_s, top_job_tasks)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if not args.queries and args.filter is None:
        ap.error("name the queries or pass --filter PREFIX")

    evdir = tempfile.mkdtemp(prefix="quantlake_eventlog_")
    try:
        names, walls, jobs = _profile(args, evdir)
    finally:
        # parsed (or the sweep failed): the log itself is not kept
        shutil.rmtree(evdir, ignore_errors=True)

    per_q: dict[str, dict] = {}
    for jid, j in sorted(jobs.items()):
        desc = j.get("desc", "")
        if not desc.startswith("PROF:"):
            qname, run = "__untagged__", "?"
        else:
            qname, run = desc[len("PROF:"):].rsplit(":", 1)
        d = per_q.setdefault(qname, {"runs": {}})
        r = d["runs"].setdefault(run, {"jobs": [], "ms": 0, "ntasks": 0})
        dur = j.get("t1", j["t0"]) - j["t0"]
        r["jobs"].append((dur, jid, j.get("callsite", ""), j.get("ntasks", 0)))
        r["ms"] += dur
        r["ntasks"] += j.get("ntasks", 0)

    rows = []
    for qname in names:
        d = per_q.get(qname, {"runs": {}})
        last = d["runs"][max(d["runs"])] if d["runs"] else {"jobs": [], "ms": 0, "ntasks": 0}
        top = max(last["jobs"], default=(0, 0, "", 0))
        rows.append({
            "query": qname,
            "wall": round(walls.get(qname, -1), 3),
            "njobs": len(last["jobs"]),
            "ntasks": last["ntasks"],
            "injob": round(last["ms"] / 1000.0, 3),
            "top_job_s": round(top[0] / 1000.0, 3),
            "top_job_tasks": top[3],
        })
        print(f"\n=== {qname}  wall(best)={walls.get(qname, -1):.3f}s ===")
        if not d["runs"]:
            print("  (no tagged jobs)")
            continue
        for run in sorted(d["runs"]):
            r = d["runs"][run]
            print(f"  {run}: {len(r['jobs'])} jobs, {r['ms']/1000.0:.3f}s in-job, {r['ntasks']} tasks")
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

    if args.out:
        with open(args.out, "w") as f:
            json.dump(rows, f, indent=1)
        print(f"\n{'query':45s} {'wall':>6s} {'jobs':>4s} {'tasks':>5s} {'injob':>6s} {'topjob':>6s} {'toptk':>5s}")
        for r in sorted(rows, key=lambda r: -r["wall"]):
            print(f"{r['query']:45s} {r['wall']:6.2f} {r['njobs']:4d} {r['ntasks']:5d} "
                  f"{r['injob']:6.2f} {r['top_job_s']:6.2f} {r['top_job_tasks']:5d}")
        print(f"rows: {args.out}")


if __name__ == "__main__":
    main()
