"""Custom stateful streaming operator: universe lifecycle tracking via
``applyInPandasWithState``.

Re-expresses the reference's universe state machine (I6,
security_master.py:1198-1410: prev_universe.json diff → IPO / rebrand /
delist with a 14-day grace period) as a per-symbol state machine over a
stream of daily universe snapshots — the stateful-batch JSON checkpoint
becomes Spark's managed state store, and the daily diff becomes incremental
state transitions.

States:   active → grace (absent from a snapshot) → delisted (grace expires)
                     └──→ active (reappears in time: ticker glitch / rebrand)
Events emitted on every transition: listed / absent / relisted / delisted.

The operator is deterministic given ordered snapshots per symbol (micro-batch
arrival order = snapshot-date order in daily operation; within a batch rows
are sorted by snapshot date).  State per symbol is O(1): last-present date,
current status — at 100 TB-scale universes the state store shards by symbol
across executors.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("snap_date", T.DateType()),
        T.StructField("event", T.StringType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_present", T.StringType()),  # ISO date
        T.StructField("status", T.StringType()),  # active | grace | delisted
    ]
)


def _transitions(rows: pd.DataFrame, last_present: str | None, status: str | None, grace_days: int):
    """Pure state-transition core (unit-testable without Spark): rows must
    have (snap_date: date, present: bool) sorted ascending by snap_date."""
    events: list[tuple[object, str]] = []
    for r in rows.itertuples():
        d = r.snap_date
        if r.present:
            if status is None:
                events.append((d, "listed"))
            elif status == "grace":
                events.append((d, "relisted"))
            elif status == "delisted":
                events.append((d, "listed"))  # new listing reusing the symbol
            status = "active"
            last_present = d.isoformat()
        else:
            if status == "active":
                events.append((d, "absent"))
                status = "grace"
            if status == "grace" and last_present is not None:
                grace_deadline = pd.Timestamp(last_present) + pd.Timedelta(days=grace_days)
                if pd.Timestamp(d) > grace_deadline:
                    events.append((d, "delisted"))
                    status = "delisted"
    return events, last_present, status


def universe_lifecycle(
    snapshots: DataFrame,
    *,
    grace_days: int = 14,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """(symbol, snap_date: date, present: bool) stream → transition events.

    ``applyInPandasWithState`` requires a streaming DataFrame: the state
    store carries each symbol's (last_present, status) across micro-batches.
    """

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        last_present, status = state.get if state.exists else (None, None)
        out: list[dict] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("snap_date")
            events, last_present, status = _transitions(pdf, last_present, status, grace_days)
            out.extend({"symbol": symbol, "snap_date": d, "event": ev} for d, ev in events)
        state.update((last_present, status))
        yield pd.DataFrame(out, columns=["symbol", "snap_date", "event"]) if out else pd.DataFrame(
            columns=["symbol", "snap_date", "event"]
        )

    return snapshots.groupBy("symbol").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )


# ---------------------------------------------------------------------------
# Timeout-driven delisting: the contract the grace-window state machine above
# cannot express.  `universe_lifecycle` only reacts to ROWS — a symbol that
# simply stops appearing is never delisted because no later batch carries an
# absent-row for it.  Real feeds are PRESENT-only (a universe snapshot lists
# what exists; absence IS the signal), so eviction must come from the state
# store itself: GroupStateTimeout.EventTimeTimeout fires the group function
# with hasTimedOut=True once the watermark passes the symbol's grace
# deadline, with NO input rows — the engine's no-data-batch flush.
# Reference analog: security_master.py:1198-1410's 14-day grace expiry.
# ---------------------------------------------------------------------------

TIMEOUT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("event_date", T.DateType()),
        T.StructField("event", T.StringType()),
        T.StructField("via", T.StringType()),  # delisted: 'gap' | 'timeout'
    ]
)
TIMEOUT_STATE_SCHEMA = T.StructType(
    [T.StructField("last_present", T.StringType())]  # ISO date
)


def universe_lifecycle_timeout(presences: DataFrame, *, grace_days: int = 14) -> DataFrame:
    """PRESENT-only (symbol, ts: timestamp) stream → listed/delisted events.

    Two delisting paths, distinguished in the ``via`` column:

    - ``gap``: the symbol REAPPEARS after its grace deadline — detected on
      data arrival (delisted at the old deadline, then listed at the new
      date: symbol reuse).
    - ``timeout``: the symbol never reappears — the state store evicts it
      when the watermark passes ``last_present + grace_days`` and the group
      function fires with ``state.hasTimedOut`` and zero input rows.  This
      is the one contract a row-driven state machine cannot express.

    The stream must carry ``withWatermark`` on ``ts`` (EventTimeTimeout
    requires it).  Timeout timestamps are epoch-ms of the raw event time
    plus the grace period — the same UTC basis the engine computes the
    watermark from, so `deadline < watermark` is exact day arithmetic.
    """
    grace = pd.Timedelta(days=grace_days)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        out: list[dict] = []
        if state.hasTimedOut:
            (last_present,) = state.get
            deadline = (pd.Timestamp(last_present) + grace).date()
            out.append({"symbol": symbol, "event_date": deadline,
                        "event": "delisted", "via": "timeout"})
            state.remove()  # a later reappearance is a fresh listing
        else:
            last = pd.Timestamp(state.get[0]) if state.exists else None
            # a group's rows arrive as MULTIPLE Arrow chunks (~10k rows
            # each); the gap state machine is order-sensitive, so sort
            # ONCE across the whole group-batch — per-chunk sorting would
            # process a later chunk first and emit wrong listed/gap events
            batch = pd.concat(list(pdfs), ignore_index=True)
            for ts in sorted(batch["ts"]) if len(batch) else []:
                d = pd.Timestamp(ts).normalize()
                if last is None:
                    out.append({"symbol": symbol, "event_date": d.date(),
                                "event": "listed", "via": None})
                elif d > last + grace:
                    out.append({"symbol": symbol,
                                "event_date": (last + grace).date(),
                                "event": "delisted", "via": "gap"})
                    out.append({"symbol": symbol, "event_date": d.date(),
                                "event": "listed", "via": None})
                last = d if last is None else max(last, d)
            if last is not None:
                state.update((last.date().isoformat(),))
                # fire when the watermark passes last_present + grace; by
                # construction new data's deadline is ahead of the current
                # watermark (the engine rejects timestamps behind it)
                state.setTimeoutTimestamp(int((last + grace).value // 1_000_000))
        yield (
            pd.DataFrame(out, columns=["symbol", "event_date", "event", "via"])
            if out
            else pd.DataFrame(columns=["symbol", "event_date", "event", "via"])
        )

    return presences.groupBy("symbol").applyInPandasWithState(
        fn,
        TIMEOUT_OUTPUT_SCHEMA,
        TIMEOUT_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Sketch-in-state: a Count-Min grid lives in the engine's state store — the
# bounded-state answer to counting an unbounded key space in a stream.  The
# grid is FIXED-SIZE however many keys arrive (the 100 TB property); the
# per-shard candidate list is the report's enumeration aid (production pairs
# the grid with a space-saving top-k of the same fixed size).  The grid uses
# the SAME md5 universal-hash family as the batch CMS (operators/sketch.py),
# so the streamed state grades bit-exactly against the batch-built oracle.
# ---------------------------------------------------------------------------

CMS_STATE_DEPTH = 4
CMS_STATE_WIDTH = 1024
CMS_STATE_SEED = 101  # = operators.sketch.CMS_SEED: shared hash family

CMS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("cms_n", T.LongType()),
        T.StructField("n_seen", T.LongType()),  # monotone: pick max per shard
    ]
)
CMS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("grid", T.BinaryType()),   # depth x width int64, packed
        T.StructField("users", T.BinaryType()),  # distinct user ids, packed
        T.StructField("n_seen", T.LongType()),
    ]
)


def cms_heavy_hitters_stream(events: DataFrame, *, n_shards: int = 4) -> DataFrame:
    """(user_id) stream → per-shard CMS estimates, state = one fixed grid.

    Each micro-batch folds its rows into the shard's grid (numpy
    ``add.at`` — commutative integer adds, so the final grid depends only
    on the multiset of events, never on batching) and emits the CURRENT
    estimate for every user the shard has seen, tagged with the monotone
    ``n_seen`` so a reader takes the last report per shard.  Estimates are
    md5-universal-hash CMS, bit-identical to the batch grid the oracle
    builds per shard."""
    import numpy as np

    from us_equity_datalake_spark.functions.hashing import MERSENNE_P, perm_coefficients

    coeffs = perm_coefficients(CMS_STATE_DEPTH, CMS_STATE_SEED)

    def positions(uid: int) -> list[int]:
        import hashlib

        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16)
        return [(h * a + b) % MERSENNE_P % CMS_STATE_WIDTH for a, b in coeffs]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            grid_b, users_b, n_seen = state.get
            grid = np.frombuffer(grid_b, dtype=np.int64).reshape(
                CMS_STATE_DEPTH, CMS_STATE_WIDTH
            ).copy()
            users = set(np.frombuffer(users_b, dtype=np.int64).tolist())
        else:
            grid = np.zeros((CMS_STATE_DEPTH, CMS_STATE_WIDTH), dtype=np.int64)
            users, n_seen = set(), 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            counts = batch["user_id"].value_counts()
            for uid, cnt in counts.items():
                uid = int(uid)
                users.add(uid)
                for d, p in enumerate(positions(uid)):
                    grid[d, p] += int(cnt)
            n_seen += int(len(batch))
        state.update((
            grid.tobytes(),
            np.array(sorted(users), dtype=np.int64).tobytes(),
            n_seen,
        ))
        out = [
            {"shard": shard, "user_id": u,
             "cms_n": int(min(grid[d, p] for d, p in enumerate(positions(u)))),
             "n_seen": n_seen}
            for u in sorted(users)
        ]
        yield (
            pd.DataFrame(out, columns=["shard", "user_id", "cms_n", "n_seen"])
            if out
            else pd.DataFrame(columns=["shard", "user_id", "cms_n", "n_seen"])
        )

    import pyspark.sql.functions as F

    keyed = events.select(
        (F.col("user_id") % n_shards).alias("shard"), "user_id", "ts"
    ).withWatermark("ts", "1 second")
    return keyed.groupBy("shard").applyInPandasWithState(
        fn,
        CMS_OUTPUT_SCHEMA,
        CMS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
