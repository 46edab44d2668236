"""perfbench: closed-loop, single-client benchmark of the quantlake lake engine.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run makes its inputs from ``--seed``,
sets up (session start, data build, an untimed warm pass over every op
kind), then runs a fixed op sequence sized from ``--seconds``, checks every
op against a Spark-free model and prints one JSON object as the last line
of standard output.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the sequence twice, untraced then traced, and prints the
per-layer metrics.  The exit code is 0 only when every op matched its model.
See perfbench/README.md for the workloads, metrics and pinned settings.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s runs from here to the first timed op

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A run makes round(seconds * RATE) timed ops, at least MIN_OPS, rounded up
# to whole op cycles, so the op sequence is fixed for a given --seconds and
# never cut by a clock.  RATE is about the speed on a 4-core box.
RATE = {"lake_read": 3.0, "lake_write": 2.4}
MIN_OPS = {"lake_read": 30, "lake_write": 24}
DRIVER_MEM = "1g"
MAX_CPUS = 4


def pin_env(run_dir: str) -> dict:
    """Settings every run pins before the JVM starts; returned for the log."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the heap is committed and touched up front, so VmHWM does not follow
    # G1's run-to-run heap growth; peak_rss_mb then moves with off-heap and
    # Python memory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {"cpus": cpus, "driver_mem": DRIVER_MEM, "filesystem": _fs_type(run_dir),
            "flush": "none: no fsync, writes stay in the OS page cache"}


def _fs_type(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts", encoding="ascii", errors="replace") as fh:
        for line in fh:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fs = parts[1], parts[2]
    return fs


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a run cut short mid-call may have broken the gateway
        pass
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores shutdown is killed
            proc.kill()
            proc.wait()


def run_workload(spark, args, *, run_dir: str, session_ms: float, trace_dir: str) -> dict:
    """Run one workload and shape the result line."""
    import gen
    import lake
    from harness import Run, layer_metrics

    fn, cycle = {"lake_read": (lake.lake_read, len(gen.READ_CYCLE)),
                 "lake_write": (lake.lake_write, len(gen.WRITE_CYCLE))}[args.workload]
    n_ops = max(MIN_OPS[args.workload], round(args.seconds * RATE[args.workload]))
    n_ops = cycle * -(-n_ops // cycle)  # whole cycles: the same mix every run
    if args.trace:  # twice the cycles, alternately untraced and traced
        n_ops *= 2
    r = Run(spark, seed=args.seed, run_dir=run_dir, t0=T0, session_ms=session_ms)
    out = fn(r, gen.TINY if args.tiny else gen.LakeSize(), n_ops, bool(args.trace))
    if args.trace:
        metrics = layer_metrics(r, out["classes"])
        os.makedirs(trace_dir, exist_ok=True)
        r.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = r.end_to_end(out["main"], out["side"], out["bytes_ratio"])
    print(f"perfbench: {args.workload} {r.summary()}", file=sys.stderr)
    return {
        "correct": r.setup_ok and r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "us_equity_datalake_spark", "__init__.py")):
        print(f"perfbench: no us_equity_datalake_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = pin_env(run_dir)
    print(f"perfbench settings: {json.dumps(settings)}", file=sys.stderr)

    spark = None
    try:
        t = time.perf_counter()
        from us_equity_datalake_spark.session import get_spark  # after pin_env

        spark = get_spark("perfbench")
        session_ms = (time.perf_counter() - t) * 1000.0
        result = run_workload(spark, args, run_dir=run_dir, session_ms=session_ms,
                              trace_dir=os.path.join(base, "traces"))
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
