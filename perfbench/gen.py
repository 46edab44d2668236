"""Seeded inputs and Spark-free models for the perfbench workloads.

Everything here is pure Python and NumPy: the generators turn a seed into
the exact rows and op parameters a run feeds the program, and the models
compute the answer every op must return, so each op can be checked without
trusting the engine under test.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

BASE_DATE = dt.date(2024, 1, 1)
SEQ_STRIDE = 10_000  # seq = security_id * SEQ_STRIDE + day: the table's unique key
# bytes one live row is worth to its user, per column (symbol: its length)
_FIXED_ROW_BYTES = 8 + 8 + 4 + 8 + 8


@dataclass(frozen=True)
class LakeSize:
    """Shape of the ticks-style snapshot table of lake_read and lake_write."""

    securities: int = 1024
    days: int = 128
    files: int = 64
    history: int = 2        # small appends after the base commit
    append_rows: int = 200  # rows per small append (one new day for a block)


TINY = LakeSize(securities=40, days=20, files=4, history=2, append_rows=8)  # smoke tests


def symbols(rng: np.random.Generator, n: int) -> "list[str]":
    """``n`` distinct five-letter tickers."""
    codes = rng.choice(26 ** 5, size=n, replace=False)
    out = []
    for c in codes.tolist():
        s = []
        for _ in range(5):
            c, r = divmod(c, 26)
            s.append(chr(65 + r))
        out.append("".join(s))
    return out


def day_date(day: int) -> dt.date:
    return BASE_DATE + dt.timedelta(days=int(day))


class TicksModel:
    """The live rows of a ticks table, column-wise, keyed by ``seq``."""

    def __init__(self, sym: "list[str]"):
        self.sym = sym
        self.seq = np.zeros(0, np.int64)
        self.sid = np.zeros(0, np.int64)
        self.day = np.zeros(0, np.int64)
        self.close = np.zeros(0, np.float64)
        self.volume = np.zeros(0, np.int64)
        self.ver = np.zeros(0, np.int64)  # version that wrote the row
        self.live = np.zeros(0, bool)
        self.pos: "dict[int, int]" = {}

    def insert(self, sid, day, close, volume, ver: int = 0) -> None:
        seq = sid * SEQ_STRIDE + day
        start = len(self.seq)
        self.seq = np.concatenate([self.seq, seq])
        self.sid = np.concatenate([self.sid, sid])
        self.day = np.concatenate([self.day, day])
        self.close = np.concatenate([self.close, close])
        self.volume = np.concatenate([self.volume, volume])
        self.ver = np.concatenate([self.ver, np.full(len(seq), ver, np.int64)])
        self.live = np.concatenate([self.live, np.ones(len(seq), bool)])
        for i, s in enumerate(seq.tolist()):
            old = self.pos.get(s)
            if old is not None:
                self.live[old] = False
            self.pos[s] = start + i

    def delete(self, seqs) -> int:
        n = 0
        for s in seqs:
            i = self.pos.pop(int(s), None)
            if i is not None and self.live[i]:
                self.live[i] = False
                n += 1
        return n

    def update_close(self, seqs, bump: float) -> int:
        n = 0
        for s in seqs:
            i = self.pos.get(int(s))
            if i is not None and self.live[i]:
                self.close[i] = self.close[i] + bump
                n += 1
        return n

    def count(self) -> int:
        return int(self.live.sum())

    def rows(self, mask) -> "list[tuple]":
        """(seq, close, volume) of the live rows under ``mask``, by seq."""
        m = mask & self.live
        order = np.argsort(self.seq[m], kind="stable")
        return list(zip(self.seq[m][order].tolist(), self.close[m][order].tolist(),
                        self.volume[m][order].tolist()))

    def agg(self, mask=None) -> "tuple[int, int, int]":
        m = self.live if mask is None else mask & self.live
        return int(m.sum()), int(self.seq[m].sum()), int(self.volume[m].sum())

    def user_bytes(self) -> int:
        return user_bytes(self.sym, self.sid[self.live])


def user_bytes(sym: "list[str]", sid) -> int:
    """What rows of securities ``sid`` are worth to their user, in bytes."""
    return int(len(sid) * _FIXED_ROW_BYTES + sum(len(sym[i]) for i in np.asarray(sid).tolist()))


def base_ticks(seed: int, size: LakeSize) -> "tuple[list[str], dict]":
    """The base table: one row per (security, day), clustered by security."""
    rng = np.random.default_rng([seed, 1])
    sym = symbols(rng, size.securities)
    sid = np.repeat(np.arange(size.securities, dtype=np.int64), size.days)
    day = np.tile(np.arange(size.days, dtype=np.int64), size.securities)
    n = len(sid)
    cols = {
        "sid": sid,
        "day": day,
        "close": np.round(rng.uniform(5.0, 500.0, n), 2),
        "volume": rng.integers(100, 1_000_000, n, dtype=np.int64),
    }
    return sym, cols


def day_block(rng: np.random.Generator, size: LakeSize, day: int, rows: int) -> dict:
    """One new trading day for a contiguous block of securities."""
    rows = min(rows, size.securities)
    lo = int(rng.integers(0, size.securities - rows + 1))
    sid = np.arange(lo, lo + rows, dtype=np.int64)
    return {
        "sid": sid,
        "day": np.full(rows, day, np.int64),
        "close": np.round(rng.uniform(5.0, 500.0, rows), 2),
        "volume": rng.integers(100, 1_000_000, rows, dtype=np.int64),
    }


def arrow_ticks(sym: "list[str]", cols: dict):
    """A pyarrow table in the snapshot table's schema."""
    import pyarrow as pa

    sid = cols["sid"]
    return pa.table({
        "seq": pa.array(sid * SEQ_STRIDE + cols["day"], pa.int64()),
        "security_id": pa.array(sid, pa.int64()),
        "symbol": pa.array([sym[i] for i in sid.tolist()], pa.string()),
        "timestamp": pa.array([day_date(d) for d in cols["day"].tolist()], pa.date32()),
        "close": pa.array(cols["close"], pa.float64()),
        "volume": pa.array(cols["volume"], pa.int64()),
    })


# ---------------------------------------------------------------------------
# lake_read: a fixed op mix over a read-only table
# ---------------------------------------------------------------------------
READ_CYCLE = ("point", "range", "compound", "cross_section", "point",
              "range", "asof", "compound", "point", "change_feed")
LOOKUPS = frozenset({"point", "range", "compound"})


def read_ops(seed: int, size: LakeSize, n_ops: int, versions: int, *, stream: int = 2):
    """``n_ops`` read ops cycling through :data:`READ_CYCLE` with seeded
    parameters; ``versions`` is the table's latest version."""
    rng = np.random.default_rng([seed, stream])
    last_day = size.days + size.history - 1
    ops = []
    for k in range(n_ops):
        kind = READ_CYCLE[k % len(READ_CYCLE)]
        s = int(rng.integers(0, size.securities))
        if kind == "point":
            p = {"sid": s}
        elif kind == "range":
            w = max(1, size.securities // 600)
            lo = min(s, size.securities - w)
            p = {"lo": lo, "hi": lo + w - 1}
        elif kind == "compound":
            w = max(2, size.securities // 100)
            lo = min(s, size.securities - w)
            d0 = int(rng.integers(0, max(1, size.days - 60)))
            p = {"lo": lo, "hi": lo + w - 1, "sid": lo + w // 2, "d0": d0, "d1": d0 + 59}
        elif kind == "cross_section":
            p = {"day": int(rng.integers(0, last_day + 1)), "k": 10}
        elif kind == "asof":
            p = {"version": int(rng.integers(1, versions))}
        else:  # change_feed between adjacent versions
            p = {"v0": int(rng.integers(1, versions))}
        ops.append((kind, p))
    return ops


def expected_read(m: TicksModel, kind: str, p: dict):
    """The answer a read op must give over an append-only history."""
    if kind == "point":
        return m.rows(m.sid == p["sid"])
    if kind == "range":
        return m.rows((m.sid >= p["lo"]) & (m.sid <= p["hi"]))
    if kind == "compound":
        mask = ((m.sid >= p["lo"]) & (m.sid <= p["hi"]) & (m.sid == p["sid"])
                & (m.day >= p["d0"]) & (m.day <= p["d1"]))
        return m.rows(mask)
    if kind == "cross_section":
        mask = m.live & (m.day == p["day"])
        idx = np.nonzero(mask)[0]
        order = sorted(idx.tolist(), key=lambda i: (-int(m.volume[i]), int(m.seq[i])))
        return [int(m.seq[i]) for i in order[: p["k"]]]
    if kind == "asof":
        return m.agg(m.ver <= p["version"])
    # change_feed v0 -> v0+1: the rows version v0+1 appended
    n, seq_sum, _ = m.agg(m.ver == p["v0"] + 1)
    return {"insert": (n, seq_sum)}


# ---------------------------------------------------------------------------
# lake_write: a fixed op sequence of writes with interleaved lookups
# ---------------------------------------------------------------------------
WRITE_KINDS = ("append", "merge_recent", "delete_dv", "update_dv", "optimize",
               "vacuum", "merge_scattered", "delete_dv")
LOOKUPS_PER_WRITE = 2  # point lookups after every write
WRITE_CYCLE = tuple(k for w in WRITE_KINDS for k in (w,) + ("lookup",) * LOOKUPS_PER_WRITE)
WRITES = frozenset({"append", "merge_recent", "merge_scattered", "delete_dv",
                    "update_dv", "optimize", "vacuum"})


def write_ops(seed: int, size: LakeSize, n_ops: int, *, first_day: int, stream: int = 3):
    """``n_ops`` ops of :data:`WRITE_CYCLE`; its ``optimize`` and ``vacuum``
    keep file and deletion-vector counts bounded.  Every parameter comes
    from the seed; which rows an op touches is resolved against the model
    in op order (so a delete always finds live rows)."""
    rng = np.random.default_rng([seed, stream])
    ops = []
    day = first_day
    for k in range(n_ops):
        kind = WRITE_CYCLE[k % len(WRITE_CYCLE)]
        p: dict = {"draw": int(rng.integers(0, 2 ** 31))}
        if kind in ("append", "merge_recent"):
            p["day"] = day  # each op that adds rows owns a fresh day
            day += 1
        ops.append((kind, p))
    return ops


def write_delta(model: TicksModel, size: LakeSize, kind: str, p: dict, touched=None):
    """Resolve an op against the model: returns the rows (column dict) or
    seqs a write writes, or the security a lookup reads.  A lookup reads a
    security the previous write ``touched`` (read-your-write), so it meets
    the same kind of file or deletion vector in every run; after a write
    that touched none it reads any live security.  Called before the op
    runs; deterministic in ``p``."""
    rng = np.random.default_rng(p["draw"])
    live = np.nonzero(model.live)[0]
    if kind == "append":
        return day_block(rng, size, p["day"], size.append_rows)
    if kind in ("merge_recent", "merge_scattered"):
        if kind == "merge_recent":
            # a block of adjacent securities' latest days: few files
            w = max(2, size.securities // 200)
            lo = int(rng.integers(0, size.securities - w + 1))
            recent = (model.day >= size.days - 5) & (model.day < size.days)
            idx = live[((model.sid[live] >= lo) & (model.sid[live] < lo + w))
                       & recent[live]]
            n_new = w
        else:
            # corrections spread over the whole key range: many files
            idx = rng.choice(live, size=min(len(live), size.files * 4), replace=False)
            n_new = 0
        idx = np.sort(idx)
        sid = model.sid[idx]
        day = model.day[idx]
        if n_new:
            # plus inserts: the op's own new day for the block
            sid = np.concatenate([sid, np.arange(lo, lo + n_new, dtype=np.int64)])
            day = np.concatenate([day, np.full(n_new, p["day"], np.int64)])
        n = len(sid)
        return {
            "sid": sid, "day": day,
            "close": np.round(rng.uniform(5.0, 500.0, n), 2),
            "volume": rng.integers(100, 1_000_000, n, dtype=np.int64),
        }
    if kind in ("delete_dv", "update_dv"):
        idx = rng.choice(live, size=min(len(live), 8), replace=False)
        return sorted(model.seq[idx].tolist())
    if kind == "lookup":
        if touched is not None and len(touched):
            return int(touched[int(rng.integers(0, len(touched)))])
        return int(model.sid[live[int(rng.integers(0, len(live)))]])
    return None  # optimize / vacuum
