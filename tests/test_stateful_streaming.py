"""Universe-lifecycle state machine (I6, security_master.py:1198-1410):
pure-core transition tests and the applyInPandasWithState streaming form with state carried across micro-batches."""

import datetime as dt
import os
import time

import pandas as pd
from pyspark.sql import Row, functions as F, types as T

from us_equity_datalake_spark.streaming import stateful
from us_equity_datalake_spark.streaming.jobs import run_available_now

D = dt.date


def _rows(*pairs):
    return pd.DataFrame([{"snap_date": d, "present": p} for d, p in pairs])


# ---------------------------------------------------------------------------
# pure core
# ---------------------------------------------------------------------------


def test_transitions_listing_and_delisting():
    rows = _rows((D(2024, 1, 1), True), (D(2024, 1, 2), False), (D(2024, 1, 20), False))
    events, last_present, status = stateful._transitions(rows, None, None, grace_days=14)
    assert events == [(D(2024, 1, 1), "listed"), (D(2024, 1, 2), "absent"), (D(2024, 1, 20), "delisted")]
    assert status == "delisted" and last_present == "2024-01-01"


def test_transitions_relist_within_grace():
    rows = _rows((D(2024, 1, 1), True), (D(2024, 1, 2), False), (D(2024, 1, 10), True))
    events, _, status = stateful._transitions(rows, None, None, grace_days=14)
    assert events == [(D(2024, 1, 1), "listed"), (D(2024, 1, 2), "absent"), (D(2024, 1, 10), "relisted")]
    assert status == "active"


def test_transitions_symbol_reuse_after_delist():
    rows = _rows((D(2024, 3, 1), True),)
    events, _, status = stateful._transitions(rows, "2024-01-01", "delisted", grace_days=14)
    assert events == [(D(2024, 3, 1), "listed")] and status == "active"


def test_transitions_resume_from_state():
    # state carried in: active with last_present 2024-01-05; next batch absent past grace
    rows = _rows((D(2024, 1, 25), False))
    events, _, status = stateful._transitions(rows, "2024-01-05", "active", grace_days=14)
    assert events == [(D(2024, 1, 25), "absent"), (D(2024, 1, 25), "delisted")]
    assert status == "delisted"


# ---------------------------------------------------------------------------
# streaming with cross-batch state
# ---------------------------------------------------------------------------

SNAP_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("snap_date", T.DateType()),
        T.StructField("present", T.BooleanType()),
    ]
)


def _snapshots():
    out = []
    # AAA: listed, glitch-absent one day, relisted
    out += [("AAA", D(2024, 1, 1), True), ("AAA", D(2024, 1, 2), False), ("AAA", D(2024, 1, 3), True)]
    # BBB: listed, disappears, grace expires
    out += [("BBB", D(2024, 1, 1), True), ("BBB", D(2024, 1, 2), False), ("BBB", D(2024, 1, 20), False)]
    return out


def test_universe_lifecycle_streaming_state_across_batches(spark, tmp_path):
    src = str(tmp_path / "snaps")
    os.makedirs(src)
    rows = _snapshots()
    early = [r for r in rows if r[1] <= D(2024, 1, 2)]
    late = [r for r in rows if r[1] > D(2024, 1, 2)]
    spark.createDataFrame([Row(symbol=s, snap_date=d, present=p) for s, d, p in early], SNAP_SCHEMA).coalesce(
        1
    ).write.parquet(src, mode="append")
    time.sleep(1.1)  # distinct mtimes => deterministic file order across micro-batches
    spark.createDataFrame([Row(symbol=s, snap_date=d, present=p) for s, d, p in late], SNAP_SCHEMA).coalesce(
        1
    ).write.parquet(src, mode="append")

    stream = spark.readStream.schema(SNAP_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    out = stateful.universe_lifecycle(stream, grace_days=14)
    q = run_available_now(out, checkpoint=str(tmp_path / "ck"), output_mode="append", query_name="ulc")
    q.awaitTermination(120)
    got = {(r.symbol, r.snap_date, r.event) for r in spark.sql("SELECT * FROM ulc").collect()}
    # state (last_present/status) survived the
    # micro-batch boundary between Jan 2 and the later snapshots
    assert got == {
        ("AAA", D(2024, 1, 1), "listed"),
        ("AAA", D(2024, 1, 2), "absent"),
        ("AAA", D(2024, 1, 3), "relisted"),
        ("BBB", D(2024, 1, 1), "listed"),
        ("BBB", D(2024, 1, 2), "absent"),
        ("BBB", D(2024, 1, 20), "delisted"),
    }


# ---------------------------------------------------------------------------
# GroupStateTimeout eviction: delisted BY TIMEOUT, not by a later row
# ---------------------------------------------------------------------------

PRES_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _run_timeout_pass(spark, src, sink, ckpt):
    stream = (
        spark.readStream.schema(PRES_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        stateful.universe_lifecycle_timeout(stream, grace_days=14)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(120)


def test_lifecycle_timeout_eviction_fires_in_no_data_batch(spark, tmp_path):
    """The PRESENT-only feed never carries a row for GONE after Jan 3, so its
    delisting can only come from the state store's EventTimeTimeout — and it
    must arrive in the EMPTY second run (zero input rows, hasTimedOut path),
    not with any data batch."""
    src, sink, ckpt = (str(tmp_path / p) for p in ("src", "sink", "ck"))
    os.makedirs(src)

    def ts(day):
        return dt.datetime(2024, 1, day)

    rows = [Row(symbol="GONE", ts=ts(d)) for d in (1, 2, 3)]
    rows += [Row(symbol="STAYS", ts=ts(d)) for d in range(1, 11)]
    spark.createDataFrame(rows, PRES_SCHEMA).coalesce(1).write.parquet(src, mode="append")

    # run 1: watermark ends at Jan 10, BEHIND GONE's deadline (Jan 3 + 14 =
    # Jan 17) — no eviction can fire, even in availableNow's internal
    # no-data flush batch; the sink must contain listings only
    _run_timeout_pass(spark, src, sink, ckpt)
    after_run1 = {(r.symbol, r.event_date, r.event, r.via)
                  for r in spark.read.parquet(sink).collect()}
    assert after_run1 == {
        ("GONE", D(2024, 1, 1), "listed", None),
        ("STAYS", D(2024, 1, 1), "listed", None),
    }

    # run 2: new data for STAYS ONLY (days 11-30) pushes the watermark past
    # Jan 17; GONE receives ZERO rows this run, so its delist can only come
    # from the hasTimedOut eviction path in the no-data flush batch.  STAYS'
    # deadline (Jan 30 + 14) stays ahead of the watermark and survives.
    spark.createDataFrame(
        [Row(symbol="STAYS", ts=ts(d)) for d in range(11, 31)], PRES_SCHEMA
    ).coalesce(1).write.parquet(src, mode="append")
    _run_timeout_pass(spark, src, sink, ckpt)
    after_run2 = {(r.symbol, r.event_date, r.event, r.via)
                  for r in spark.read.parquet(sink).collect()}
    assert after_run2 - after_run1 == {
        ("GONE", D(2024, 1, 17), "delisted", "timeout"),
    }

    # run 3: no new files — the evicted state was removed, so the flush
    # batch must not emit a duplicate delist
    _run_timeout_pass(spark, src, sink, ckpt)
    after_run3 = {(r.symbol, r.event_date, r.event, r.via)
                  for r in spark.read.parquet(sink).collect()}
    assert after_run3 == after_run2


def test_lifecycle_timeout_gap_reappearance_takes_data_path(spark, tmp_path):
    """A symbol reappearing AFTER its grace deadline in a later batch is
    delisted at the old deadline and re-listed at the new date via the DATA
    path (the group has rows, so hasTimedOut never fires for it), and the
    state resets so no duplicate timeout delist follows."""
    src, sink, ckpt = (str(tmp_path / p) for p in ("src", "sink", "ck"))
    os.makedirs(src)

    def ts(day):
        return dt.datetime(2024, 1, day)

    spark.createDataFrame(
        [Row(symbol="REUSE", ts=ts(d)) for d in (1, 2)], PRES_SCHEMA
    ).coalesce(1).write.parquet(src, mode="append")
    _run_timeout_pass(spark, src, sink, ckpt)

    # reappears Jan 25 — past the Jan 2 + 14 = Jan 16 deadline; arrives as
    # data, with the run-1 watermark (Jan 2) still behind the deadline
    spark.createDataFrame(
        [Row(symbol="REUSE", ts=ts(25))], PRES_SCHEMA
    ).coalesce(1).write.parquet(src, mode="append")
    _run_timeout_pass(spark, src, sink, ckpt)
    # empty flush run: REUSE's new deadline (Jan 25 + 14) is past the final
    # watermark (Jan 25), so nothing further may be emitted
    _run_timeout_pass(spark, src, sink, ckpt)

    got = {(r.symbol, r.event_date, r.event, r.via)
           for r in spark.read.parquet(sink).collect()}
    assert got == {
        ("REUSE", D(2024, 1, 1), "listed", None),
        ("REUSE", D(2024, 1, 16), "delisted", "gap"),
        ("REUSE", D(2024, 1, 25), "listed", None),
    }


def test_lifecycle_timeout_group_spanning_arrow_chunks(spark, tmp_path):
    """Regression for the multi-chunk ordering fix: a group whose rows span
    MULTIPLE Arrow record batches must sort ONCE across the whole
    group-batch before the gap state machine runs — per-chunk sorting
    processes a later chunk first and emits phantom gap events.  Forced by
    shrinking arrow.maxRecordsPerBatch far below the group size and
    feeding the rows in REVERSE time order."""
    import datetime as dt

    from pyspark.sql import Row, functions as F, types as T

    from us_equity_datalake_spark.streaming.stateful import universe_lifecycle_timeout

    schema = T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    base = dt.datetime(2024, 1, 1)
    # one symbol, 400 consecutive days, written in REVERSE order: with
    # per-chunk sorting (100-row Arrow batches) the later chunk arrives
    # first and every chunk boundary fabricates a gap
    rows = [Row(symbol="AAA", ts=base + dt.timedelta(days=i))
            for i in range(399, -1, -1)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        stream = spark.readStream.schema(schema).parquet(src).withWatermark(
            "ts", "1 second"
        )
        q = (
            universe_lifecycle_timeout(stream, grace_days=14)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(tmp_path / "sink"))
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = spark.read.parquet(str(tmp_path / "sink")).collect()
    # exactly ONE event: the initial listing; consecutive days have no gap
    assert [(r["event"], r["via"]) for r in got] == [("listed", None)]
    assert got[0]["event_date"] == dt.date(2024, 1, 1)
