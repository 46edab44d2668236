"""Structured Streaming equivalence tests: the streaming window operators
must agree with their batch forms on the same data (availableNow + memory
sink drives a bounded stream to completion synchronously)."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from us_equity_datalake_spark.sources.registry import DEFAULT_SF_DIR
from us_equity_datalake_spark.streaming.jobs import run_available_now
from us_equity_datalake_spark.streaming.windows import session_counts, streaming_dedup, tumbling_counts

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _read_stream(spark, path, schema):
    return spark.readStream.schema(schema).parquet(path)


SF_TINY = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")  # the smallest generated sf


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_src") / "data")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(event_id=i, ts=base + dt.timedelta(minutes=7 * i), user_id=i % 3,
            event_type=["view", "click"][i % 2], value=float(i))
        for i in range(40)
    ]
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)
    return path


def _run_to_memory(spark, df, name, checkpoint, output_mode="append"):
    q = run_available_now(df, checkpoint=checkpoint, output_mode=output_mode, query_name=name)
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, event_dir, tmp_path):
    stream = _read_stream(spark, event_dir, SCHEMA)
    out = _run_to_memory(
        spark, tumbling_counts(stream), "tumble_out", str(tmp_path / "ck1"), output_mode="complete"
    ).collect()
    batch = (
        spark.read.schema(SCHEMA).parquet(event_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))


def test_stream_static_enrich_matches_batch(spark, event_dir, tmp_path):
    """stream_static_enrich (broadcast dim join + tumbling rollup) must equal
    the batch join+agg on the same bounded data; an unmatched key drops out
    (inner join), proving the dim filter applies inside the micro-batch."""
    from us_equity_datalake_spark.functions.safe_math import dec_sum
    from us_equity_datalake_spark.streaming.windows import stream_static_enrich

    dim = spark.createDataFrame(
        [Row(user_id=0, segment="alpha"), Row(user_id=1, segment="beta")]
    )  # user_id == 2 is intentionally absent
    stream = _read_stream(spark, event_dir, SCHEMA)
    got = _run_to_memory(
        spark,
        stream_static_enrich(stream, dim),
        "enrich_out",
        str(tmp_path / "ck_enrich"),
        output_mode="complete",
    ).collect()
    batch = (
        spark.read.schema(SCHEMA).parquet(event_dir)
        .join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count("*").alias("n"), dec_sum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "segment", "n", "total_value")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert {r.segment for r in got} == {"alpha", "beta"}


def test_streaming_sessions_match_batch_gaps(spark, event_dir, tmp_path):
    stream = _read_stream(spark, event_dir, SCHEMA)
    out = _run_to_memory(spark, session_counts(stream, gap="30 minutes"), "sess_out", str(tmp_path / "ck2"), output_mode="complete").collect()
    # events are 7-minute spaced per stream but 21-minute spaced per user (3 users):
    # gap 30min -> one session per user containing all its events
    per_user = {r["user_id"]: r["n_events"] for r in out}
    assert per_user == {0: 14, 1: 13, 2: 13}


def test_streaming_dedup_drops_repeated_keys(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    rows = [Row(accession_number=f"a{i % 3}", value=float(i)) for i in range(9)]
    schema = T.StructType([
        T.StructField("accession_number", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = _read_stream(spark, src, schema)
    out = _run_to_memory(
        spark, streaming_dedup(stream, keys=["accession_number"]), "dedup_out", str(tmp_path / "ck3")
    ).collect()
    assert sorted(r["accession_number"] for r in out) == ["a0", "a1", "a2"]


def test_foreach_batch_partition_overwrite_idempotent(spark, tmp_path):
    """I3 streaming form: micro-batches overwrite their month partitions;
    re-running the whole stream from a fresh checkpoint yields an identical
    table (idempotence), and a corrected re-land replaces only its partition."""
    from us_equity_datalake_spark.sources.lake import overwrite_partition

    src = str(tmp_path / "src")
    sink_path = str(tmp_path / "lake")
    schema = T.StructType([
        T.StructField("security_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("month", T.IntegerType()),
    ])
    base = dt.datetime(2024, 1, 15)
    rows1 = [Row(security_id=1, ts=base, close=10.0, month=1),
             Row(security_id=1, ts=base + dt.timedelta(days=31), close=11.0, month=2)]
    spark.createDataFrame(rows1, schema).write.parquet(src)

    def sink(batch_df, epoch_id):
        overwrite_partition(batch_df.sparkSession, batch_df, sink_path, partition_by=["month"],
                            files_per_partition=None)

    def run(ck):
        stream = _read_stream(spark, src, schema)
        q = run_available_now(stream, checkpoint=str(tmp_path / ck), foreach_batch=sink)
        q.awaitTermination(120)

    run("ck1")
    first = sorted(tuple(r) for r in spark.read.parquet(sink_path).select("security_id", "close", "month").collect())
    run("ck2")  # full replay from scratch -> identical table
    assert sorted(tuple(r) for r in spark.read.parquet(sink_path).select("security_id", "close", "month").collect()) == first

    # corrected re-land of month 2 only: month 1 untouched, month 2 replaced
    spark.createDataFrame([Row(security_id=1, ts=base + dt.timedelta(days=32), close=99.0, month=2)], schema) \
        .write.mode("append").parquet(src)
    run("ck3")
    out = spark.read.parquet(sink_path)
    assert out.filter("month = 1").collect()[0].close == 10.0
    assert {r.close for r in out.filter("month = 2").collect()} == {11.0, 99.0} or \
           {r.close for r in out.filter("month = 2").collect()} == {99.0}


def test_stream_static_pit_enrichment(spark, event_dir, tmp_path):
    """Stream-static join: a micro-batch event stream enriched against the
    (static, broadcastable) security-master dimension with PIT interval
    predicates — the streaming form of J1.  Streaming result must equal the
    batch join on the same data."""
    from pyspark.sql.functions import broadcast

    dim = spark.createDataFrame(
        [
            # user_id doubles as the entity key; validity windows split the tape
            Row(user_id=0, security_id=1001,
                start_ts=dt.datetime(2024, 1, 1, 0, 0), end_ts=dt.datetime(2024, 1, 1, 2, 0)),
            Row(user_id=0, security_id=2001,
                start_ts=dt.datetime(2024, 1, 1, 2, 0), end_ts=dt.datetime(2024, 1, 2, 0, 0)),
            Row(user_id=1, security_id=1002,
                start_ts=dt.datetime(2024, 1, 1, 0, 0), end_ts=dt.datetime(2024, 1, 2, 0, 0)),
        ]
    )

    def enrich(df):
        d = broadcast(dim)
        return df.join(
            d,
            (df.user_id == d.user_id) & (df.ts >= d.start_ts) & (df.ts < d.end_ts),
            "left",
        ).select(df.event_id, df.ts, df.user_id, d.security_id)

    stream = _read_stream(spark, event_dir, SCHEMA)
    got = _run_to_memory(spark, enrich(stream), "pit_out", str(tmp_path / "ck_pit")).collect()
    want = enrich(spark.read.schema(SCHEMA).parquet(event_dir)).collect()
    key = lambda r: (r.event_id,)
    assert sorted(got, key=key) == sorted(want, key=key)
    # user 0's events straddle the 02:00 boundary -> both ids must appear
    ids = {r.security_id for r in got if r.user_id == 0}
    assert ids == {1001, 2001}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (view->click attribution within 30 min)
    over availableNow must produce exactly the batch inequality-join rows."""
    from us_equity_datalake_spark.streaming.windows import stream_stream_interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    views = [Row(event_id=i, ts=base + dt.timedelta(minutes=10 * i), user_id=i % 3,
                 event_type="view", value=float(i)) for i in range(12)]
    clicks_schema = T.StructType([
        T.StructField("click_id", T.LongType()),
        T.StructField("ts_r", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ])
    clicks = [Row(click_id=100 + i, ts_r=base + dt.timedelta(minutes=10 * i + 5), user_id=(i + 1) % 3)
              for i in range(12)]
    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    spark.createDataFrame(views, SCHEMA).write.parquet(vdir)
    spark.createDataFrame(clicks, clicks_schema).write.parquet(cdir)

    vstream = _read_stream(spark, vdir, SCHEMA).select("user_id", "ts")
    cstream = _read_stream(spark, cdir, clicks_schema)
    joined = stream_stream_interval_join(vstream, cstream)
    got = _run_to_memory(spark, joined, "ss_join_out", str(tmp_path / "ck_ss"))

    vb = spark.read.parquet(vdir).select("user_id", "ts")
    cb = spark.read.parquet(cdir)
    expect = vb.join(
        cb,
        (vb.user_id == cb.user_id)
        & (F.col("ts_r") >= F.col("ts"))
        & (F.col("ts_r") <= F.col("ts") + F.expr("INTERVAL 30 minutes")),
    ).select(vb.user_id, "ts", "ts_r")

    g = sorted((r.user_id, str(r.ts), str(r.ts_r)) for r in got.collect())
    e = sorted((r.user_id, str(r.ts), str(r.ts_r)) for r in expect.collect())
    assert g == e and len(g) > 0


# ---------------------------------------------------------------------------
# r6 (VERDICT r5 #4): the tier executed through the REAL engine — parquet
# sink + checkpoint, watermark-driven late-row drop, restart semantics.
# ---------------------------------------------------------------------------

def _run_to_parquet(df, sink, ckpt):
    q = (df.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", sink).start())
    q.awaitTermination(120)


def test_streaming_engine_late_row_drop(spark, tmp_path):
    """Two availableNow passes against ONE checkpoint: pass 1 advances the
    event-time watermark past an old window; pass 2 delivers a LATE row into
    that window plus a fresh row.  The engine must (a) drop the late row —
    its window's final state was already emitted — and (b) emit newly
    finalized windows.  This is the semantics the streaming_tumbling_sink
    oracle models."""
    import datetime as dt

    src = str(tmp_path / "src")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)

    # pass 1: hours 00 and 03 -> watermark ends at 01:00 (03:00 - 2h),
    # so ONLY the 00:00 window is emitted
    write_batch([
        Row(event_id=1, ts=base + dt.timedelta(minutes=5), user_id=1, event_type="view", value=1.0),
        Row(event_id=2, ts=base + dt.timedelta(minutes=25), user_id=1, event_type="view", value=2.0),
        Row(event_id=3, ts=base + dt.timedelta(hours=3, minutes=2), user_id=2, event_type="view", value=4.0),
    ])
    for _ in range(2):  # second pass runs the flushing no-data batch
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        _run_to_parquet(tumbling_counts(stream, exact_sum=True), sink, ckpt)
    got1 = {(r.window_start, r.event_type): (r.n, r.total_value)
            for r in spark.read.parquet(sink).collect()}
    assert got1 == {(base, "view"): (2, 3.0)}

    # pass 2: a LATE row into hour 00 (watermark is already 01:00) and a
    # fresh row at 06:00 that pushes the watermark to 04:00, finalizing 03:00
    write_batch([
        Row(event_id=4, ts=base + dt.timedelta(minutes=40), user_id=3, event_type="view", value=100.0),
        Row(event_id=5, ts=base + dt.timedelta(hours=6), user_id=2, event_type="view", value=8.0),
    ])
    for _ in range(2):
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        _run_to_parquet(tumbling_counts(stream, exact_sum=True), sink, ckpt)
    got2 = {(r.window_start, r.event_type): (r.n, r.total_value)
            for r in spark.read.parquet(sink).collect()}
    # hour 00 UNCHANGED (late row dropped, no duplicate emission); hour 03
    # newly finalized; hour 06 still open (watermark 04:00)
    assert got2 == {
        (base, "view"): (2, 3.0),
        (base + dt.timedelta(hours=3), "view"): (1, 4.0),
    }


def test_streaming_engine_session_sink_matches_batch(spark, event_dir, tmp_path):
    """Session windows through the real engine to a parquet sink: on-time
    bounded input whose final watermark passes every session end must equal
    the batch session_counts form."""
    import datetime as dt

    # append a far-future row so the watermark closes every fixture session
    flush_dir = str(tmp_path / "src")
    spark.read.schema(SCHEMA).parquet(event_dir).write.parquet(flush_dir)
    spark.createDataFrame([
        Row(event_id=999, ts=dt.datetime(2025, 1, 1), user_id=99, event_type="view", value=0.0)
    ], SCHEMA).coalesce(1).write.mode("append").parquet(flush_dir)

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    for _ in range(2):
        stream = spark.readStream.schema(SCHEMA).parquet(flush_dir)
        _run_to_parquet(session_counts(stream), sink, ckpt)
    # the flush row's own session never finalizes (it IS the watermark
    # anchor), so the sink holds exactly the fixture sessions — compare
    # against the batch form over the ORIGINAL bounded input
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    batch = sorted(
        tuple(r) for r in session_counts(spark.read.schema(SCHEMA).parquet(event_dir)).collect()
    )
    assert got == batch and len(got) > 0


def test_streaming_tumbling_sink_registry_query(spark):
    """The r6 registry query end-to-end at sf0.001: the sink rows equal the
    batch agg restricted to watermark-finalized windows (the oracle's
    cutoff), and rerunning the query from scratch is deterministic."""
    from us_equity_datalake_spark.plans.streamjobs import run_events_tumbling_stream

    sf = "/root/testdata/sf0.001"
    sink = run_events_tumbling_stream(spark, sf)
    got = sorted(
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in spark.read.parquet(sink).collect()
    )
    ev = spark.read.parquet(f"{sf}/events.parquet")
    wm = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    from us_equity_datalake_spark.functions.safe_math import dec_sum

    cutoff = wm - dt.timedelta(hours=2)
    batch = sorted(
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dec_sum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff))
        .collect()
    )
    assert len(got) > 0
    assert got == batch


def test_streaming_dedup_within_watermark_contract(spark, tmp_path):
    """dropDuplicatesWithinWatermark's three-arm contract across runs of one
    checkpoint: (1) an exact in-run duplicate is suppressed; (2) the same key
    re-arriving with a FRESH event time after its state expired (first ts +
    delay < watermark) is re-emitted — dedup holds only within the
    watermark; (3) a duplicate arriving with an event time BELOW the
    watermark is dropped as late input, not emitted and not deduped."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ck")

    def run(batch):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        stream = _read_stream(spark, src, SCHEMA)
        q = (
            streaming_dedup(stream, keys=["event_id"], watermark_col="ts",
                            watermark="2 hours")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["event_id"], r["ts"]) for r in spark.read.parquet(sink).collect()
        )

    def ev(eid, hours):
        return Row(event_id=eid, ts=base + dt.timedelta(hours=hours),
                   user_id=1, event_type="view", value=1.0)

    # run 1: e1@0h twice (in-run dup suppressed) + e2@10h -> watermark 8h,
    # e1's state (expiry 2h) evicted at the no-data flush batch
    got = run([ev(1, 0), ev(1, 0), ev(2, 10)])
    assert got == [(1, base), (2, base + dt.timedelta(hours=10))]
    # run 2: key 1 again, fresh ts above the watermark -> re-emitted
    got = run([ev(1, 9)])
    assert got == [(1, base), (1, base + dt.timedelta(hours=9)),
                   (2, base + dt.timedelta(hours=10))]
    # run 3: key 2 again but BELOW the watermark -> dropped as late input
    assert run([ev(2, 1)]) == got


def test_snapshot_feed_cross_commit_resume(spark, tmp_path):
    """Lake->stream: three chronological snapshot commits tailed through
    stage_incremental_files into ONE engine checkpoint.  Pins the resume
    contract: each run processes only the newly staged files and the
    watermark/window state carries across runs — early windows are emitted
    by EARLIER runs (the sink grows monotonically per commit), and the
    final no-data run flushes exactly the batch-oracle set."""
    from us_equity_datalake_spark.sources import snapshots

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(event_id=i, ts=base + dt.timedelta(minutes=13 * i), user_id=i % 3,
            event_type="view", value=float(i))
        for i in range(120)  # ~26 h span: plenty of closed 1 h windows
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    lake = str(tmp_path / "lake")
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "feed.json")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once():
        src = spark.readStream.schema(SCHEMA).parquet(staging)
        q = (
            tumbling_counts(src, window="1 hour", watermark="2 hours")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet").option("path", sink).start()
        )
        q.awaitTermination(120)
        import glob as _glob
        files = _glob.glob(sink + "/*.parquet")
        return spark.read.parquet(sink).count() if files else 0

    counts = []
    for k in range(3):
        chunk = df.where((F.col("event_id") >= 40 * k) & (F.col("event_id") < 40 * (k + 1)))
        snapshots.commit(chunk.coalesce(1), lake)
        snapshots.stage_incremental_files(lake, staging, state)
        counts.append(run_once())
    final = run_once()  # no-data flush

    # incremental emission: each commit's run emitted MORE closed windows
    # (state resumed; nothing was re-emitted, appends only grow the sink)
    assert counts[0] > 0 and counts[1] > counts[0] and counts[2] > counts[1]

    # final state equals the batch semantics with the engine's cutoff:
    # windows whose end <= max_ts - 2h
    max_ts = base + dt.timedelta(minutes=13 * 119)
    cutoff = max_ts - dt.timedelta(hours=2)
    want = (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .where(F.col("w.end") <= F.lit(cutoff))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    got = spark.read.parquet(sink)
    assert final == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_change_feed_source_multi_batch_file_granularity(spark, tmp_path):
    """The change-feed STREAM under maxFilesPerTrigger=1: one availableNow
    run splits the staged change files into several micro-batches (the
    continuous-trigger shape at 100 TB), and the consumer's
    applied-through-version watermark + signed fold must still land the
    exact final state — per-version rows never split across batches because
    each stage advance writes whole files, and the file source delivers
    staged-earlier files first (mtime order)."""
    import json as _json

    import os
    import time

    from us_equity_datalake_spark.sources import snapshots

    src = str(tmp_path / "src")
    staging = str(tmp_path / "cdf")
    state = str(tmp_path / "feed.json")
    ckpt = str(tmp_path / "ckpt")
    applied_path = str(tmp_path / "applied.json")

    df = spark.range(0, 40).selectExpr("id", "CAST(id * 2.0 AS DOUBLE) AS v")
    snapshots.commit(df.coalesce(1), src)  # v1
    snapshots.stage_change_feed_files(spark, src, staging, state, key="id")
    time.sleep(0.05)  # distinct mtimes across advances
    snapshots.delete_where_dv(spark, src, F.col("id") < 10)  # v2
    snapshots.stage_change_feed_files(spark, src, staging, state, key="id")
    time.sleep(0.05)
    snapshots.update_where_dv(spark, src, F.col("id") >= 35,
                              {"v": F.col("v") + 1000.0})  # v3
    snapshots.commit(
        spark.range(100, 105).selectExpr("id", "CAST(id * 2.0 AS DOUBLE) AS v"),
        src,
    )  # v4
    snapshots.stage_change_feed_files(spark, src, staging, state, key="id")

    # exactly-once staging + the engine's per-file checkpoint tracking mean
    # EVERY change row arrives exactly once whatever the batch granularity,
    # so the additive fold needs NO version watermark and NO dedup — even
    # when maxFilesPerTrigger=1 splits one version's rows across batches
    state_box = {"n": 0, "sum": 0.0, "batches": 0}

    def apply_batch(batch_df, _bid):
        state_box["batches"] += 1
        w = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        row = batch_df.agg(
            F.sum(w).alias("dn"), F.sum(F.col("v") * w).alias("dv")
        ).first()
        state_box["n"] += int(row["dn"] or 0)
        state_box["sum"] += float(row["dv"] or 0.0)

    schema = spark.read.option("recursiveFileLookup", "true").parquet(staging).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staging)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state_box["batches"] >= 3  # genuinely split into per-file batches
    live = snapshots.read_version(spark, src)
    expect = live.agg(F.count("*"), F.sum("v")).first()
    assert state_box["n"] == expect[0]
    assert abs(state_box["sum"] - float(expect[1])) < 1e-6


def test_tumbling_stream_state_partitions_on_child_session(spark, tmp_path, monkeypatch):
    """The scaled state-partition count reaches the engine through a child
    session: the checkpoint holds exactly ``_stream_state_partitions`` state
    partitions (pinned in its offset metadata), while the caller's
    ``spark.sql.shuffle.partitions`` is never set and keeps its value."""
    import json

    from pyspark.sql.conf import RuntimeConfig

    from us_equity_datalake_spark.plans.streamjobs import (
        _stream_state_partitions,
        run_events_tumbling_stream,
    )

    sf = SF_TINY
    want = _stream_state_partitions(spark, sf)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert int(before) != want  # otherwise the test cannot tell the sessions apart
    real_set, caller_sets = RuntimeConfig.set, []
    mine = spark.conf._jconf

    def spy(self, key, value):
        if self._jconf == mine:
            caller_sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    run_events_tumbling_stream(spark, sf, root=str(tmp_path))
    assert caller_sets == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    state = tmp_path / "ckpt" / "state" / "0"
    assert sorted(d for d in os.listdir(state) if d.isdigit()) == [str(i) for i in range(want)]
    offsets = sorted((f for f in os.listdir(tmp_path / "ckpt" / "offsets") if f.isdigit()), key=int)
    meta = json.loads((tmp_path / "ckpt" / "offsets" / offsets[-1]).read_text().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == str(want)


def test_run_available_now_returns_terminated_query_with_progress(spark, event_dir, tmp_path):
    """The runner awaits the query and returns it terminated, so callers
    read per-micro-batch progress; a parquet sink lands the rows."""
    sink = str(tmp_path / "sink")
    q = run_available_now(_read_stream(spark, event_dir, SCHEMA),
                          checkpoint=str(tmp_path / "ck"), path=sink)
    assert not q.isActive
    assert sum(p["numInputRows"] for p in q.recentProgress) == 40
    assert spark.read.parquet(sink).count() == 40
    with pytest.raises(ValueError):
        run_available_now(_read_stream(spark, event_dir, SCHEMA), checkpoint=str(tmp_path / "ck2"),
                          path=sink, foreach_batch=lambda df, i: None)


def test_scaled_sinks_reuse_one_child_session(spark):
    """A session that runs a stream adds a listener to the SparkContext's
    bus for the context's life, so the scaled sinks reuse one child per
    caller session and partition count instead of making one per call."""
    from us_equity_datalake_spark.plans.streamjobs import _stream_session

    sf = SF_TINY
    child = _stream_session(spark, sf)
    assert child is not spark and child is _stream_session(spark, sf)
    assert child.sparkContext is spark.sparkContext
