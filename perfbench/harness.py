"""Closed-loop op runner and the metrics one run prints.

One client issues one op at a time and waits for it (a closed loop).  Each
op is timed, then checked against its Spark-free model outside the clock; a
raised error or a mismatch counts the op as failed.  With tracing on, each
op is also the root span of the tracer (see spans.py) and the per-layer
metrics are derived from the spans.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict

from spans import RESIDUAL, Tracer, self_times, union_ms


def _p(values, q: int) -> float:
    """The q-th percentile (nearest rank) of ``values``; 0.0 when empty."""
    if not values:
        return 0.0
    v = sorted(values)
    return float(v[min(len(v) - 1, max(0, -(-len(v) * q // 100) - 1))])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Run:
    """The state of one benchmark run: its session, clocks and tallies."""

    def __init__(self, spark, *, seed: int, run_dir: str, t0: float, session_ms: float):
        self.spark = spark
        self.seed = seed
        self.dir = run_dir
        self.t0 = t0
        self.session_ms = session_ms
        self.lat: "dict[str, list[float]]" = defaultdict(list)  # op kind -> ms
        self.attempted = 0
        self.failed = 0
        self.setup_ok = True
        self.t_first_timed: "float | None" = None
        self.tracer: "Tracer | None" = None
        self.tracing = False
        self.lat_traced: "dict[str, list[float]]" = defaultdict(list)
        self.gc_traced_ms = 0.0
        self.counts: "dict[str, float]" = defaultdict(float)

    def timed_ops(self, ops, cycle: int, trace: bool, run_op) -> None:
        """Run the timed ops.  With ``trace`` the op cycles alternate,
        untraced then traced, so both halves see the same warm state and
        the traced half's spans give the per-layer metrics."""
        for i, op in enumerate(ops):
            if trace:
                self.set_tracing((i // cycle) % 2 == 1)
            run_op(op)
        self.set_tracing(False)

    def set_tracing(self, on: bool) -> None:
        if on and self.tracer is None:
            self.tracer = install_tracer(self)
        if self.tracer is not None and on != self.tracing:
            self.tracer.enable(on)
        self.tracing = on

    def do(self, kind: str, fn, check=None, *, timed: bool = True):
        """Run one op and check it.  ``check(result)`` returns True when the
        result matches the model; it runs after the clock stops."""
        if timed and self.t_first_timed is None:
            self.t_first_timed = time.perf_counter()
            self.mark("warm done")
        tr = self.tracer if timed and self.tracing else None
        out, err = None, None
        gc0 = tr.gc_ms() if tr is not None else 0.0
        t = time.perf_counter()
        try:
            if tr is not None:
                with tr.op(kind):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            err = e
        ms = (time.perf_counter() - t) * 1000.0
        if tr is not None:
            self.gc_traced_ms += tr.gc_ms() - gc0
            tr.finish_op()
        ok = err is None
        if ok and check is not None:
            try:
                ok = bool(check(out))
            except Exception as e:  # noqa: BLE001 - a check that raises is a mismatch
                err = e
                ok = False
        if err is not None:
            traceback.print_exception(err, file=sys.stderr)
        if not ok:
            print(f"perfbench: op {kind} failed its check", file=sys.stderr)
        if timed:
            self.attempted += 1
            self.failed += 0 if ok else 1
            (self.lat_traced if tr is not None else self.lat)[kind].append(ms)
        elif not ok:
            self.setup_ok = False
        return out

    # -- metrics ------------------------------------------------------------
    def ops_per_s(self, traced: bool = False) -> float:
        lat = self.lat_traced if traced else self.lat
        busy = sum(sum(v) for v in lat.values()) / 1000.0
        return sum(len(v) for v in lat.values()) / busy if busy else 0.0

    def class_lat(self, kinds) -> "list[float]":
        return [ms for k in kinds for ms in self.lat.get(k, [])]

    def kind_geomean(self, kinds) -> float:
        """Geometric mean over ``kinds`` of each kind's median latency.

        Every kind counts once, whatever its share of the ops, so a change
        to any one kind moves the value, and each kind's noise is averaged
        with the others' instead of deciding a mixed median alone."""
        meds = [median(self.lat[k]) for k in kinds if self.lat.get(k)]
        return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0

    def peak_rss_mb(self) -> float:
        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        jvm_kb = 0
        with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def mark(self, label: str) -> None:
        """Log how far into the run a set-up phase ended."""
        print(f"perfbench: {label} at {time.perf_counter() - self.t0:.1f}s", file=sys.stderr)

    def summary(self) -> str:
        """Per-kind latency medians and counts, for the log."""
        return " ".join(f"{k}={median(v):.0f}ms/{len(v)}" for k, v in sorted(self.lat.items()))

    def end_to_end(self, main_kinds, side_kinds, bytes_ratio: float) -> dict:
        setup = (self.t_first_timed or time.perf_counter()) - self.t0
        return {
            "setup_s": (setup, "s"),
            "ops_per_s": (self.ops_per_s(), "1/s"),
            "op_ms": (self.kind_geomean(main_kinds), "ms"),
            "side_ms": (self.kind_geomean(side_kinds), "ms"),
            "ok_frac": (1.0 - self.failed / self.attempted if self.attempted else 0.0, "ratio"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "bytes_ratio": (bytes_ratio, "ratio"),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# per-layer metrics from the traced pass
# ---------------------------------------------------------------------------
LAYERS = (RESIDUAL, "action", "sources.snapshots", "operators._cache")
SNAPSHOT_WRITES = ("commit", "merge_upsert", "delete_where_dv", "update_where_dv",
                   "optimize", "vacuum")
SNAPSHOT_READS = ("read_version_point", "read_version_pruned", "read_version_where",
                  "read_version_asof", "change_feed", "read_version")
SPARK_METRICS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                 "shuffle_write_bytes", "input_bytes", "output_bytes", "gap_ms")


def per_layer_names() -> "list[tuple[str, str]]":
    """Every per-layer metric a traced run prints, with its unit."""
    out = [("session.start_ms", "ms"),
           ("snapshots.read.plan_ms", "ms"), ("snapshots.read.exec_ms", "ms"),
           ("snapshots.read.files_scanned_frac", "ratio"), ("snapshots.read.jobs", "count")]
    for fn in SNAPSHOT_WRITES:
        out += [(f"snapshots.{fn}.ms", "ms"), (f"snapshots.{fn}.jobs", "count"),
                (f"snapshots.{fn}.driver_ms", "ms")]
    out += [("snapshots.commit.files_written", "count"),
            ("snapshots.bytes_written_per_user_byte", "ratio")]
    out += [("materialize_once.calls", "count"), ("materialize_once.ms", "ms")]
    out += [(f"self.{layer}.ms", "ms") for layer in LAYERS]
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "shuffle_write_bytes": "B", "input_bytes": "B", "output_bytes": "B"}
    out += [(f"spark.{m}", units.get(m, "ms")) for m in SPARK_METRICS]
    out += [("jvm.gc_ms", "ms"), ("trace.reconcile_err_ms", "ms"),
            ("trace.ops_per_s", "1/s"), ("untraced.ops_per_s", "1/s"),
            ("trace.overhead_frac", "ratio")]
    out += [(f"ops.{c}.{q}_ms", "ms") for c in ("lookup", "scan", "write")
            for q in ("p50", "p90")]
    return out


def _commit_files(span, args, kwargs, version) -> None:
    """commit(df, path, ...) -> version: count the files the commit landed."""
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    cdir = os.path.join(path, f"commit_v{version:06d}")
    if os.path.isdir(cdir):
        names = os.listdir(cdir)
        span.counts["files"] = sum(1 for n in names if n.endswith(".parquet"))
        span.counts["bytes"] = dir_bytes(cdir)


def install_tracer(run: Run) -> Tracer:
    """Wrap every public call a workload makes, by the module that owns it."""
    from us_equity_datalake_spark.operators import _cache
    from us_equity_datalake_spark.sources import snapshots

    tr = Tracer(run.spark)
    for fn in SNAPSHOT_READS + SNAPSHOT_WRITES:
        tr.wrap(snapshots, fn, "sources.snapshots",
                on_return=_commit_files if fn == "commit" else None)
    tr.wrap(_cache, "materialize_once", "operators._cache")
    return tr


def _span_stats(spans, pred):
    """Mean inclusive ms, jobs and driver ms per call of the matching spans;
    jobs and job intervals include each span's descendants."""
    by_id = {s.sid: s for s in spans}
    kids: dict = defaultdict(list)
    for s in spans:
        if s.parent in by_id:
            kids[s.parent].append(s)

    def subtree_jobs(s):
        out = list(s.jobs)
        for c in kids.get(s.sid, ()):
            out += subtree_jobs(c)
        return out

    hits = [s for s in spans if pred(s)]
    if not hits:
        return 0, 0.0, 0.0, 0.0
    ms = jobs = driver = 0.0
    for s in hits:
        wall = (s.end - s.start) * 1000.0
        js = subtree_jobs(s)
        ms += wall
        jobs += len(js)
        driver += max(0.0, wall - union_ms([(a, b) for a, b, _, _ in js]))
    n = len(hits)
    return n, ms / n, jobs / n, driver / n


def layer_metrics(run: Run, classes: dict) -> dict:
    """Every metric of :func:`per_layer_names` from the traced pass; the
    op-class latencies come from the untraced pass of the same run."""
    tr = run.tracer
    gc_ms = run.gc_traced_ms
    traced_ops_per_s = run.ops_per_s(traced=True)
    untraced_ops_per_s = run.ops_per_s()
    spans = tr.spans
    m: "dict[str, float]" = {name: 0.0 for name, _ in per_layer_names()}
    m["session.start_ms"] = run.session_ms
    by_op = tr.op_spans()
    n_ops = max(1, len(by_op))

    # self time per layer, and how well it reconciles to each op's wall time
    err = 0.0
    for op_spans in by_op.values():
        st = self_times(op_spans)
        root = next(s for s in op_spans if s.sid == s.op)
        for s in op_spans:
            m[f"self.{s.layer}.ms"] += st[s.sid] / n_ops
        err = max(err, abs(sum(st.values()) - (root.end - root.start) * 1000.0))
    m["trace.reconcile_err_ms"] = err

    def is_snap(names):
        return lambda s: s.layer == "sources.snapshots" and s.name in names

    def top_read(s):  # a reader the benchmark called, not one nested in a writer
        return is_snap(SNAPSHOT_READS)(s) and s.parent == s.op

    n, ms, jobs, _ = _span_stats(spans, top_read)
    m["snapshots.read.plan_ms"] = ms
    read_ops = {s.op for s in spans if top_read(s)}
    acts = [s for s in spans if s.layer == "action" and s.op in read_ops]
    if acts:
        m["snapshots.read.exec_ms"] = sum((s.end - s.start) * 1000.0 for s in acts) / len(acts)
        m["snapshots.read.jobs"] = (
            sum(len(s.jobs) for s in acts) + jobs * n) / len(acts)
    if run.counts.get("files_total"):
        m["snapshots.read.files_scanned_frac"] = run.counts["files_scanned"] / run.counts["files_total"]
    for fn in SNAPSHOT_WRITES:
        _, ms, jobs, drv = _span_stats(spans, is_snap((fn,)))
        m[f"snapshots.{fn}.ms"], m[f"snapshots.{fn}.jobs"], m[f"snapshots.{fn}.driver_ms"] = ms, jobs, drv
    commits = [s for s in spans if is_snap(("commit",))(s)]
    if commits:
        m["snapshots.commit.files_written"] = sum(s.counts.get("files", 0) for s in commits) / len(commits)
    if run.counts.get("user_bytes_written"):
        m["snapshots.bytes_written_per_user_byte"] = (
            sum(s.counts.get("bytes", 0) for s in commits) / run.counts["user_bytes_written"])
    mo = [s for s in spans if s.name == "materialize_once"]
    m["materialize_once.calls"] = len(mo) / n_ops
    m["materialize_once.ms"] = sum((s.end - s.start) * 1000.0 for s in mo) / n_ops

    st = tr.stage_totals
    jobs_all = [j for s in spans for j in s.jobs]
    m["spark.jobs"] = len(jobs_all) / n_ops
    m["spark.stages"] = st.stages / n_ops
    m["spark.tasks"] = st.tasks / n_ops
    m["spark.executor_run_ms"] = st.executor_run_ms / n_ops
    m["spark.executor_cpu_ms"] = st.executor_cpu_ms / n_ops
    m["spark.shuffle_write_bytes"] = st.shuffle_write_bytes / n_ops
    m["spark.input_bytes"] = st.input_bytes / n_ops
    m["spark.output_bytes"] = st.output_bytes / n_ops
    gap = 0.0
    for op_spans in by_op.values():
        iv = [(a, b) for s in op_spans for a, b, _, _ in s.jobs]
        if iv:
            gap += (max(b for _, b in iv) - min(a for a, _ in iv)) * 1000.0 - union_ms(iv)
    m["spark.gap_ms"] = gap / n_ops
    m["jvm.gc_ms"] = gc_ms / n_ops
    m["trace.ops_per_s"] = traced_ops_per_s
    m["untraced.ops_per_s"] = untraced_ops_per_s
    m["trace.overhead_frac"] = (untraced_ops_per_s / traced_ops_per_s - 1.0) if traced_ops_per_s else 0.0
    for cls, kinds in classes.items():
        vals = run.class_lat(kinds)
        m[f"ops.{cls}.p50_ms"] = _p(vals, 50)
        m[f"ops.{cls}.p90_ms"] = _p(vals, 90)
    units = dict(per_layer_names())
    return {k: (v, units[k]) for k, v in m.items()}
