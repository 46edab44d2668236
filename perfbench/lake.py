"""lake_read and lake_write: a ticks-shaped snapshot table under
``sources.snapshots``, read by the skipping readers or written by the
commit path, one closed-loop client."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from harness import Run, dir_bytes
from us_equity_datalake_spark.sources import snapshots as S

SCHEMA = ("seq bigint, security_id bigint, symbol string, timestamp date, "
          "close double, volume bigint")
STATS_COLS = ["security_id", "timestamp"]
BLOOM_COLS = ["symbol"]
SCAN_KINDS = ("cross_section", "asof", "change_feed")


def _source(run: Run, name: str, sym, cols):
    """Land generated rows as one parquet file and return a DataFrame over it:
    the delivered input the program reads, like a file an upstream job drops."""
    path = os.path.join(run.dir, "src", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(gen.arrow_ticks(sym, cols), path)
    return run.spark.read.schema(SCHEMA).parquet(path)


def _action(run: Run, fn):
    """An action on a DataFrame the program returned (the 'action' layer)."""
    if not run.tracing:
        return fn()
    with run.tracer.span("collect", "action"):
        return fn()


def build_table(run: Run, size: gen.LakeSize, *, history: bool):
    """The base commit (range-clustered on security_id, stats and a symbol
    bloom index) plus, with ``history``, ``size.history`` small appends."""
    path = os.path.join(run.dir, "lake", "ticks")
    sym, cols = gen.base_ticks(run.seed, size)
    model = gen.TicksModel(sym)
    df = _source(run, "base", sym, cols).repartitionByRange(size.files, "security_id")
    run.mark("inputs generated")
    S.commit(df, path, stats_cols=STATS_COLS, bloom_cols=BLOOM_COLS)
    model.insert(cols["sid"], cols["day"], cols["close"], cols["volume"], ver=1)
    run.mark("base table committed")
    if history:
        rng = np.random.default_rng([run.seed, 5])
        for h in range(size.history):
            blk = gen.day_block(rng, size, size.days + h, size.append_rows)
            S.commit(_source(run, f"hist{h}", sym, blk).coalesce(1), path)
            model.insert(blk["sid"], blk["day"], blk["close"], blk["volume"], ver=2 + h)
        run.mark("history committed")
    return path, model, sym


# ---------------------------------------------------------------------------
# lake_read
# ---------------------------------------------------------------------------
def _lookup(run: Run, df, info):
    run.counts["files_scanned"] += info["files_scanned"]
    run.counts["files_total"] += info["files_total"]
    rows = _action(run, lambda: df.select("seq", "close", "volume").collect())
    return sorted(tuple(r) for r in rows)


def _point(run: Run, path: str, symbol: str):
    df, info = S.read_version_point(run.spark, path, "symbol", symbol)
    return _lookup(run, df.where(F.col("symbol") == symbol), info)


def read_op(run: Run, path: str, sym, committed_at: dict, kind: str, p: dict):
    spark = run.spark
    if kind == "point":
        return _point(run, path, sym[p["sid"]])
    if kind == "range":
        df, info = S.read_version_pruned(spark, path, "security_id", lo=p["lo"], hi=p["hi"])
        return _lookup(run, df.where(F.col("security_id").between(p["lo"], p["hi"])), info)
    if kind == "compound":
        d0, d1 = str(gen.day_date(p["d0"])), str(gen.day_date(p["d1"]))
        df, info = S.read_version_where(spark, path, [
            {"col": "security_id", "op": "between", "lo": p["lo"], "hi": p["hi"]},
            {"col": "symbol", "op": "eq", "value": sym[p["sid"]]},
            {"col": "timestamp", "op": "between", "lo": d0, "hi": d1},
        ])
        pred = (F.col("security_id").between(p["lo"], p["hi"])
                & (F.col("symbol") == sym[p["sid"]])
                & F.col("timestamp").between(F.lit(d0).cast("date"), F.lit(d1).cast("date")))
        return _lookup(run, df.where(pred), info)
    if kind == "cross_section":
        d = str(gen.day_date(p["day"]))
        df, _ = S.read_version_where(
            spark, path, [{"col": "timestamp", "op": "between", "lo": d, "hi": d}])
        top = (df.where(F.col("timestamp") == F.lit(d).cast("date"))
               .orderBy(F.desc("volume"), F.asc("seq")).limit(p["k"]).select("seq"))
        return [r[0] for r in _action(run, top.collect)]
    if kind == "asof":
        df = S.read_version_asof(spark, path, committed_at[p["version"]])
        r = _action(run, df.agg(F.count("*"), F.sum("seq"), F.sum("volume")).collect)[0]
        return (int(r[0]), int(r[1] or 0), int(r[2] or 0))
    feed = S.change_feed(spark, path, p["v0"], p["v0"] + 1, key="seq")
    rows = _action(run, feed.groupBy("change_type").agg(F.count("*"), F.sum("seq")).collect)
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}


def lake_read(run: Run, size: gen.LakeSize, n_ops: int, trace: bool) -> dict:
    """Build the table, warm every read kind, then run ``n_ops`` timed reads."""
    path, model, sym = build_table(run, size, history=True)
    versions = S.latest_version(path)
    committed_at = {h["version"]: h["committed_at"] for h in S.history(path)}

    def run_op(op, timed=True):
        kind, p = op
        run.do(kind, lambda: read_op(run, path, sym, committed_at, kind, p),
               lambda got: got == gen.expected_read(model, kind, p), timed=timed)

    warm = {k: p for k, p in gen.read_ops(run.seed, size, len(gen.READ_CYCLE), versions, stream=4)}
    for op in warm.items():  # one untimed op of each kind
        run_op(op, timed=False)
    run.timed_ops(gen.read_ops(run.seed, size, n_ops, versions), len(gen.READ_CYCLE),
                  trace, run_op)
    return {
        "main": tuple(gen.LOOKUPS), "side": SCAN_KINDS,
        "classes": {"lookup": tuple(gen.LOOKUPS), "scan": SCAN_KINDS},
        "bytes_ratio": dir_bytes(path) / model.user_bytes(),
    }


# ---------------------------------------------------------------------------
# lake_write
# ---------------------------------------------------------------------------
def write_op(run: Run, path: str, sym, kind: str, p: dict, arg):
    spark = run.spark
    if kind == "append":
        return S.commit(_src_df(run, arg), path)
    if kind in ("merge_recent", "merge_scattered"):
        return S.merge_upsert(spark, path, _src_df(run, arg), key="seq")["version"]
    if kind == "delete_dv":
        r = S.delete_where_dv(spark, path, F.col("seq").isin(arg))
        return r["version"], r["rows_deleted"]
    if kind == "update_dv":
        r = S.update_where_dv(spark, path, F.col("seq").isin(arg),
                              {"close": F.col("close") + F.lit(1.0)})
        return r["version"], r["rows_updated"]
    if kind == "optimize":
        r = S.optimize(spark, path, target_files=arg)
        return r["version"]
    if kind == "vacuum":
        S.vacuum(path, keep_last=1)
        return S.latest_version(path)
    return _point(run, path, sym[arg])


def _src_df(run: Run, src: str):
    return run.spark.read.schema(SCHEMA).parquet(src)


def lake_write(run: Run, size: gen.LakeSize, n_ops: int, trace: bool) -> dict:
    """Build the base table, then run a fixed write sequence (warm ops first,
    untimed) with point lookups interleaved; every op is resolved against
    the model before the run so its input files are ready."""
    path, model, sym = build_table(run, size, history=False)
    first_day = size.days + size.history
    # one untimed op of each kind; each op that adds rows owns a fresh day
    warm = list({k: (k, p) for k, p in gen.write_ops(
        run.seed, size, len(gen.WRITE_CYCLE), first_day=first_day, stream=6)}.values())
    timed = gen.write_ops(run.seed, size, n_ops, first_day=first_day + len(gen.WRITE_CYCLE))

    # resolve every op against the model, in order, before anything runs
    plan = []
    version = S.latest_version(path)
    touched = None  # securities the last write touched
    for i, (kind, p) in enumerate(warm + timed):
        arg = gen.write_delta(model, size, kind, p, touched)
        ub = 0  # user bytes the op delivers
        if kind == "lookup":
            exp = model.rows(model.sid == arg)
        else:
            version += kind != "vacuum"  # every other write publishes a version
            exp = version
            touched = None
        if kind in ("append", "merge_recent", "merge_scattered"):
            touched = arg["sid"]
            ub = gen.user_bytes(sym, arg["sid"])
            model.insert(arg["sid"], arg["day"], arg["close"], arg["volume"])
            src = os.path.join(run.dir, "src", f"w{i}.parquet")
            pq.write_table(gen.arrow_ticks(sym, arg), src)
            arg = src
        elif kind in ("delete_dv", "update_dv"):
            touched = np.array(arg) // gen.SEQ_STRIDE
            if kind == "delete_dv":
                exp = (version, model.delete(arg))
            else:
                ub = gen.user_bytes(sym, touched)
                exp = (version, model.update_close(arg, 1.0))
        elif kind == "optimize":
            arg = size.files
        plan.append((kind, p, arg, exp, model.count() if kind in gen.WRITES else None, ub))

    def run_op(step, timed=True):
        kind, p, arg, exp, count, ub = step

        def check(got):
            return got == exp and (count is None or S.table_count(path) == count)

        if run.tracing:
            run.counts["user_bytes_written"] += ub
        run.do(kind, lambda: write_op(run, path, sym, kind, p, arg), check, timed=timed)

    run.mark("write plan resolved")
    for step in plan[:len(warm)]:
        run_op(step, timed=False)
    run.timed_ops(plan[len(warm):], len(gen.WRITE_CYCLE), trace, run_op)

    # the whole table against the model, once, outside the clock
    r = S.read_version(run.spark, path).agg(
        F.count("*"), F.sum("seq"), F.sum("volume"), F.sum("close")).collect()[0]
    n, seq_sum, vol_sum = model.agg()
    close_sum = float(model.close[model.live].sum())
    final_ok = (int(r[0]), int(r[1]), int(r[2])) == (n, seq_sum, vol_sum) and \
        abs(float(r[3]) - close_sum) <= 1e-9 * max(1.0, abs(close_sum))
    if not final_ok:
        run.setup_ok = False
        print("perfbench: lake_write final table does not match the model", file=sys.stderr)
    return {
        # vacuum is left out of the main class: it is a few ms of file
        # deletes whose relative jitter would swamp the geometric mean
        "main": tuple(sorted(gen.WRITES - {"vacuum"})), "side": ("lookup",),
        "classes": {"write": tuple(sorted(gen.WRITES)), "lookup": ("lookup",)},
        "bytes_ratio": dir_bytes(path) / model.user_bytes(),
    }
