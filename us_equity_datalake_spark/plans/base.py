"""Query registry plumbing + oracle-comparability helpers.

Comparability rules (the driver hashes values order-insensitively, so numeric
results must be bit-identical across engines):

- Sums over doubles are computed as DECIMAL(30,4) (exact, order-independent)
  and cast back to double — identical in Spark and DuckDB.
- Ratios/averages are ``round(x, 6)`` on deterministically-derived doubles.
- Timestamps are output as epoch seconds (bigint) or ISO strings, dates as
  DateType — avoiding µs/ns representation skew.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check (non-SQL-expressible)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


_SCRATCH: set[str] = set()  # every scratch path this process handed out


@atexit.register
def _remove_scratch() -> None:
    for path in sorted(_SCRATCH):
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir(tag: str, sf_dir: str) -> str:
    """A cleared per-process scratch path for a query's own tables.

    The name carries the sf and the pid, because bench and check_correctness
    may run the same query concurrently on the same sf and a shared path
    races rmtree/overwrite.  The path is NOT created (many callers write to
    it with Spark's default error-if-exists mode).  The returned frame still
    reads these files after the query returns, so they are removed when the
    process exits, not before; a later call with the same tag in the same
    process clears the previous run's files first."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"quantlake_{tag}_{sf}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    _SCRATCH.add(path)
    return path


def collect_batched(frames: "list[DataFrame]") -> "list[list]":
    """Collect N small same-schema frames in ONE Spark action.

    The multi-arm lake reports used to run one tiny aggregate + collect per
    arm — with AQE each is 2-3 stage-jobs plus a driver round-trip, ~0.2 s
    of scheduling for microseconds of compute, times 5-8 arms per report
    (guide §1.2: fewer passes / fewer actions).  Version-pinned lake scans
    make the arms safely deferrable: ``read_version`` resolves its manifest
    and file list EAGERLY at call time, so an arm frame built mid-sequence
    still reads exactly its version's files when collected at the end
    (earlier versions' files are immutable until a vacuum, which none of
    the batched reports performs before collecting).

    Returns one list of Rows per input frame, in input order.
    """
    from pyspark.sql import functions as F

    if not frames:
        return []
    tagged = frames[0].select(F.lit(0).alias("__arm_i"), "*")
    for i, f in enumerate(frames[1:], 1):
        tagged = tagged.unionByName(f.select(F.lit(i).alias("__arm_i"), "*"))
    from pyspark.sql import Row

    fields = [c for c in tagged.columns if c != "__arm_i"]
    make = Row(*fields)
    out: "list[list]" = [[] for _ in frames]
    for r in tagged.collect():
        out[r["__arm_i"]].append(make(*[r[c] for c in fields]))
    return out


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco
