"""Spans around the package's public calls, joined to Spark's job metrics.

Nothing in the package is edited.  :meth:`Tracer.wrap` replaces a public
function on every loaded module that holds it (the defining module and each
module that imported the name), so the package's own internal calls resolve
to the wrapper too.  Each span records name, layer, start, end, parent span
and op id, and tags the Spark jobs it launches with a job group of its own;
after each op the jobs of every span are read from the live status store
over py4j (``statusTracker().getJobIdsForGroup`` and
``statusStore().job`` / ``lastStageAttempt``).  Spans stay in memory and are
written out once, at the end of the run.

Self time: every instant of an op's wall time is split evenly among the
innermost spans open at that instant.  The op's own span is the residual
(benchmark glue outside any wrapped call), so per op the layer self times
plus the residual add up to the op's wall time exactly, also when two
wrapped calls overlap on driver threads.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

RESIDUAL = "residual"
PACKAGE = "us_equity_datalake_spark"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    parent: "int | None"
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)  # [(submit_s, done_s, stage ids, tasks)]
    counts: dict = field(default_factory=dict)


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def union_ms(intervals) -> float:
    """Total length of the union of (start, end) intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times(spans: "list[Span]") -> "dict[int, float]":
    """Split each instant among the innermost open spans; returns ms per span.

    ``spans`` are the spans of one op, the op's root span included, so the
    values sum to the root span's duration."""
    children: "dict[int, list[Span]]" = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    out = {s.sid: 0.0 for s in spans}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_ = [s for s in spans if s.start <= mid < s.end]
        leaves = [
            s for s in open_
            if not any(c.start <= mid < c.end for c in children.get(s.sid, ()))
        ]
        for s in leaves:
            out[s.sid] += (b - a) * 1000.0 / len(leaves)
    return out


class Tracer:
    """Records the spans of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: "list[Span]" = []
        self.stage_totals = StageTotals()
        self._seen_stages: "set[int]" = set()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._op: "Span | None" = None
        self._op_first = 0
        self._patched: list = []

    # -- wrapping -----------------------------------------------------------
    def wrap(self, module, name: str, layer: str, on_return=None) -> None:
        """Register a wrapper for ``module.name`` on every package module
        that holds the function; :meth:`enable` installs it.

        ``on_return(span, args, kwargs, result)`` runs after the call, inside
        the span, to record counts such as files written."""
        orig = getattr(module, name)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as span:
                out = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(span, args, kwargs, out)
                return out

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            if getattr(mod, name, None) is orig:
                self._patched.append((mod, name, orig, wrapper))

    def enable(self, on: bool) -> None:
        """Install (or remove) every wrapper registered with :meth:`wrap`."""
        for mod, name, orig, wrapper in self._patched:
            setattr(mod, name, wrapper if on else orig)

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1][0].sid
        else:
            # a driver thread the package started: its parent is the op
            parent = self._op.sid if self._op is not None else None
        with self._lock:
            sid = self._next
            self._next += 1
        s = Span(sid, name, layer, self._op.sid if self._op else -1, parent, time.time())
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{sid}")
        stack.append((s, prev_group))
        with self._lock:
            self.spans.append(s)
        return s

    def _close(self) -> None:
        s, prev_group = self._stack().pop()
        s.end = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close()

    @contextlib.contextmanager
    def op(self, name: str):
        """The root span of one benchmark op (its self time is the residual)."""
        self._op_first = len(self.spans)
        s = self._open(name, RESIDUAL)
        s.op = s.sid
        self._op = s
        try:
            yield s
        finally:
            self._close()
            self._op = None

    def op_spans(self) -> "dict[int, list[Span]]":
        out: "dict[int, list[Span]]" = {}
        for s in self.spans:
            out.setdefault(s.op, []).append(s)
        return out

    # -- Spark status store ---------------------------------------------------
    def finish_op(self) -> None:
        """Join the last op's spans to their Spark jobs; call it after the
        op's clock has stopped."""
        self._collect_jobs(self.spans[self._op_first:])

    def _collect_jobs(self, spans: "list[Span]") -> None:
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - best effort: the store may lag
            pass
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        st = self.stage_totals
        for s in spans:
            for jid in tracker.getJobIdsForGroup(f"perfbench-{s.sid}"):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if not (sub.isDefined() and done.isDefined()):
                    continue
                sids = [int(x) for x in jd.stageIds().mkString(",").split(",") if x]
                s.jobs.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0,
                               sids, int(jd.numTasks())))
                for sid in sids:
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage evicted or never ran
                        continue
                    if str(sd.status().toString()) == "SKIPPED":
                        continue
                    st.stages += 1
                    st.tasks += int(sd.numTasks())
                    st.executor_run_ms += float(sd.executorRunTime())
                    st.executor_cpu_ms += float(sd.executorCpuTime()) / 1e6
                    st.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                    st.input_bytes += int(sd.inputBytes())
                    st.output_bytes += int(sd.outputBytes())

    def gc_ms(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "jobs": [[a, b, len(c), n] for a, b, c, n in s.jobs],
                }) + "\n")

