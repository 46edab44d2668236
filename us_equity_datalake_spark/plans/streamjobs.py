"""Real Structured-Streaming execution, oracle-graded at the SINK (VERDICT
r5 #4).

The streaming tier (streaming/windows.py) was previously graded through its
batch-equivalent DataFrames; this module runs the SAME operators through the
actual streaming engine — file source → an ``availableNow`` trigger →
parquet sink with a checkpoint — and grades the parquet the engine committed.
The oracle must therefore model the engine's append-mode semantics: a
windowed aggregate is only emitted once the event-time watermark passes the
window END, so with watermark delay D the trailing windows inside
``max(ts) - D`` of the stream's end remain in (checkpointed) state and never
reach the sink.  The oracle replicates that cutoff exactly — Spark truncates
event-time stats to whole milliseconds, hence the ``epoch_ms`` arithmetic —
which makes the watermark behavior itself part of the graded contract, not
just the aggregation.

Scale notes: the file source lists and checkpoints file names (no data
rescan on resume); state is bounded by the watermark (hours of open windows
per event_type, never the stream's history); the parquet sink + checkpoint
give exactly-once per micro-batch.  At 100 TB/day the identical topology
runs continuously (``trigger(processingTime=...)``) with the same state
bound — availableNow is the reference's daily micro-batch cadence
(update/app.py run_daily_update) expressed as a resumable stream.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import functions as F

from us_equity_datalake_spark.functions.hashing import md5_long32, md5_long32_sql
from us_equity_datalake_spark.functions.safe_math import dec_sum_sql
from us_equity_datalake_spark.operators._cache import materialize_once
from us_equity_datalake_spark.sources.registry import load_table, local_frame
from us_equity_datalake_spark.streaming.jobs import run_available_now
from us_equity_datalake_spark.streaming.stateful import (
    universe_lifecycle,
    universe_lifecycle_timeout,
)
from us_equity_datalake_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_counts,
)
from .base import register, scratch_dir

_WATERMARK_S = 7200  # 2 hours, mirrored in the oracle cutoff
_SESSION_WATERMARK_S = 14400  # 4 hours — the session sink's cutoff


# ---------------------------------------------------------------------------
# Scale-adaptive streaming state partitioning (optimization guide §2.4/§2.2).
#
# AQE is DISABLED inside Structured Streaming ("spark.sql.adaptive.enabled is
# not supported in streaming DataFrames"), so every stateful micro-batch stage
# (window aggs, dropDuplicates, stream-stream joins) runs exactly
# ``spark.sql.shuffle.partitions`` tasks and commits that many state-store
# partitions PER BATCH — a fixed 32 at any input size.  Event-log profiling
# (plans/r12) showed each such batch spending 1-3 s almost entirely on the
# 32-way state-store open/commit + sink-file overhead while the data itself
# is KBs.  The count is therefore derived from the INPUT VOLUME the sink
# consumes (one state partition per ~16 MiB of source, floor 2), capped at
# ``defaultParallelism``: locally the partition count is data-proportional
# (2 at sf0.1, growing with sf — also what the sf1 ladder measures), while on
# a production cluster the cores cap binds and the topology is identical to
# the fixed-conf behavior.
#
# The count reaches the engine through a CHILD session (``_stream_session``):
# ``spark.newSession()`` shares the SparkContext and every builder conf but
# holds its own SQL conf, so the stateful sinks build their ``readStream`` on
# it while batch set-up and the sink read-back stay on the caller's session.
# No session-wide conf is ever flipped, so concurrent driver threads on the
# caller's session keep their partition count.  The engine pins the count
# into each checkpoint's offset metadata at first start, so every
# availableNow run of a sink sees the same value.
# ---------------------------------------------------------------------------
_STREAM_PARTITION_TARGET_BYTES = 16 << 20  # source bytes per state partition


def _stream_state_partitions(spark, sf_dir: str) -> int:
    total = 0
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(sf_dir, f))
    except OSError:
        total = 0
    need = max(2, -(-total // _STREAM_PARTITION_TARGET_BYTES))
    return int(min(spark.sparkContext.defaultParallelism, need))


# One child per (caller session, partition count).  A session that runs a
# stream adds a listener to the SparkContext's bus for the context's life,
# so a fresh child per sink call would leak a listener and a session state
# on every call.  Weak keys: a dropped caller session frees its children.
# Two threads racing on a miss may each build a child; ``setdefault`` keeps
# one, and the other never starts a stream, so it adds no listener.
_CHILDREN: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _stream_session(spark, sf_dir: str):
    """A child of ``spark`` whose private SQL conf carries the scaled
    state-partition count; the caller's conf is untouched."""
    n = _stream_state_partitions(spark, sf_dir)
    children = _CHILDREN.setdefault(spark, {})
    if n not in children:
        child = spark.newSession()
        child.conf.set("spark.sql.shuffle.partitions", str(n))
        children.setdefault(n, child)
    return children[n]


def _events_stream(stream_spark, sf_dir: str, schema):
    """The events table as a file-source stream.  The file source needs a
    DIRECTORY basePath and testdata tables are single files, so stream the
    sf dir with a glob pinned to events."""
    return (
        stream_spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def run_events_tumbling_stream(spark, sf_dir: str, *, watermark_s: int = _WATERMARK_S,
                               root: str | None = None) -> str:
    """Drive the hourly tumbling aggregate through the real engine: events
    parquet as a file-source stream → watermarked window agg → parquet sink.
    Two ``availableNow`` passes against one checkpoint: the first processes
    every available file (the watermark advances AFTER its last batch), the
    second finds no new files and runs the no-data batch that flushes every
    window the final watermark passed — deterministic sink contents without
    relying on the first query's internal no-data-batch timing.  Returns the
    sink path."""
    root = root or scratch_dir("stream_tumbling", sf_dir)
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    schema = load_table(spark, "events", sf_dir).schema
    ss = _stream_session(spark, sf_dir)
    for _ in range(2):
        agg = tumbling_counts(_events_stream(ss, sf_dir, schema), window="1 hour",
                              watermark=f"{watermark_s} seconds", exact_sum=True)
        run_available_now(agg, checkpoint=ckpt, path=sink)
    return sink


@register(
    "streaming_tumbling_sink",
    oracle=f"""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events)
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts, event_type,
           COUNT(*) AS n, {dec_sum_sql('value')} AS total_value
    FROM events, mx
    GROUP BY date_trunc('hour', ts), event_type, wm_ms
    HAVING (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) + 3600) * 1000
           <= wm_ms - {_WATERMARK_S} * 1000
    """,
    doc="I8 through the REAL streaming engine: file source -> availableNow "
    "-> watermarked tumbling agg -> parquet sink + checkpoint; the graded "
    "rows are what the engine committed to the sink.  The oracle replicates "
    "append-mode emission: only windows whose end the final watermark "
    "(max event time, ms-truncated, minus 2 h) has passed are present — the "
    "trailing windows stay in state, exactly like the reference's "
    "late-filing lookback holding a day open until its window closes.",
)
def streaming_tumbling_sink_q(spark, sf_dir):
    sink = run_events_tumbling_stream(spark, sf_dir)
    out = spark.read.parquet(sink)
    return out.select(
        F.unix_timestamp("window_start").alias("hour_ts"),
        "event_type", "n", "total_value",
    )


@register(
    "streaming_session_sink",
    oracle=f"""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events),
    o AS (SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR ts >= lag(ts) OVER w + INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT user_id, ts,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM o),
    g AS (SELECT user_id, MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL 2 HOUR AS session_end,
                 COUNT(*) AS n_events
          FROM s GROUP BY user_id, sid)
    SELECT epoch_us(session_start) AS start_us, epoch_us(session_end) AS end_us,
           user_id, n_events
    FROM g, mx
    WHERE epoch_us(session_end) <= wm_ms * 1000 - {_SESSION_WATERMARK_S * 1_000_000}
    """,
    doc="I8 session windows through the REAL streaming engine: file source "
    "-> availableNow -> watermarked session_window agg -> parquet sink; the "
    "graded rows are the sink's contents.  The oracle rebuilds Spark's "
    "session merge rule (a new event extends a session iff it starts before "
    "last_event + gap; session end = last event + gap) with a lag/cumsum "
    "window, then applies append-mode emission: only sessions whose end the "
    "final watermark (ms-truncated max event time minus 4 h) has passed are "
    "in the sink — trailing sessions stay in state.  Timestamps are compared "
    "at full microsecond precision (unix_micros vs epoch_us).",
)
def streaming_session_sink_q(spark, sf_dir):
    """Session windows (gap 2 h) over the events stream via the real engine.

    Reference parity: sessionization is the streaming form of the batch
    lag+cumsum sessionize (plans/events.py); the reference's daily job has no
    streaming engine, so this is the capability-extension arm of I8 run the
    way a production stream would run it — sink + checkpoint + watermark.
    Two availableNow passes against one checkpoint: pass 2's no-data batch
    flushes every session the final watermark closed (same protocol as
    ``run_events_tumbling_stream``).
    """
    root = scratch_dir("stream_session", sf_dir)
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    schema = load_table(spark, "events", sf_dir).schema
    ss = _stream_session(spark, sf_dir)
    for _ in range(2):
        sessions = session_counts(_events_stream(ss, sf_dir, schema), gap="2 hours",
                                  watermark=f"{_SESSION_WATERMARK_S} seconds")
        run_available_now(sessions, checkpoint=ckpt, path=sink)
    out = spark.read.parquet(sink)
    return out.select(
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "user_id", "n_events",
    )


@register(
    "streaming_interval_join_sink",
    oracle="""
    SELECT v.user_id AS user_id, epoch_us(v.ts) AS view_us, epoch_us(c.ts) AS click_us
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR
    """,
    doc="Stream-stream interval join through the REAL engine (view->click "
    "attribution within 24 h): two watermarked file-source streams over the "
    "same events table, inner-joined on user_id with an event-time range "
    "condition, availableNow -> parquet sink.  Inner joins emit matches in "
    "the micro-batch that pairs them, so on bounded input the sink equals "
    "the batch inequality join — which is exactly the oracle; the 48 h "
    "watermarks are what BOUND the join state at 100 TB (left rows are "
    "dropped once the right watermark passes ts + 24 h), the semantics the "
    "batch form never has to prove.",
)
def streaming_interval_join_sink_q(spark, sf_dir):
    root = scratch_dir("stream_ssjoin", sf_dir)
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    schema = load_table(spark, "events", sf_dir).schema
    ss = _stream_session(spark, sf_dir)
    views = _events_stream(ss, sf_dir, schema).filter(
        F.col("event_type") == "view"
    ).select("user_id", "ts")
    clicks = _events_stream(ss, sf_dir, schema).filter(
        F.col("event_type") == "click"
    ).select("user_id", F.col("ts").alias("ts_r"))
    joined = stream_stream_interval_join(
        views, clicks, within="24 hours", watermark="48 hours"
    )
    run_available_now(joined, checkpoint=ckpt, path=sink)
    out = spark.read.parquet(sink)
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("view_us"),
        F.unix_micros("ts_r").alias("click_us"),
    )


@register(
    "streaming_sliding_sink",
    oracle=f"""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events),
    assigned AS (
      SELECT epoch_us(date_trunc('hour', ts)) // 1000000
               + (CASE WHEN epoch_us(ts) - epoch_us(date_trunc('hour', ts)) >= 1800 * 1000000 THEN 1800 ELSE 0 END)
               AS b0, value
      FROM events
    ),
    two AS (
      SELECT b0 AS wstart, value FROM assigned
      UNION ALL
      SELECT b0 - 1800, value FROM assigned
    )
    SELECT wstart AS window_start, COUNT(*) AS n, {dec_sum_sql('value')} AS total_value
    FROM two CROSS JOIN mx
    GROUP BY wstart, wm_ms
    HAVING (wstart + 3600) * 1000 <= wm_ms - {_WATERMARK_S} * 1000
    """,
    doc="Sliding windows through the REAL engine (1 h window, 30 min slide: "
    "every event is open in TWO windows simultaneously, so watermark state "
    "holds window/slide times the tumbling row count — the state-sizing "
    "dimension tumbling never exercises).  File source -> availableNow x2 "
    "-> parquet sink; the oracle assigns each event to both windows and "
    "keeps only those whose END the final watermark passed.",
)
def streaming_sliding_sink_q(spark, sf_dir):
    root = scratch_dir("stream_sliding", sf_dir)
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    schema = load_table(spark, "events", sf_dir).schema
    ss = _stream_session(spark, sf_dir)
    for _ in range(2):
        slides = sliding_counts(_events_stream(ss, sf_dir, schema),
                                watermark=f"{_WATERMARK_S} seconds", exact_sum=True)
        run_available_now(slides, checkpoint=ckpt, path=sink)
    out = spark.read.parquet(sink)
    return out.select(
        F.unix_timestamp("window_start").alias("window_start"),
        "n", "total_value",
    )


@register(
    "streaming_enrich_join_sink",
    oracle=f"""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events)
    SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS hour_ts,
           c.c_mktsegment AS segment,
           COUNT(*) AS n, {dec_sum_sql('e.value')} AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id, mx
    GROUP BY date_trunc('hour', e.ts), c.c_mktsegment, wm_ms
    HAVING (CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) + 3600) * 1000
           <= wm_ms - {_WATERMARK_S} * 1000
    """,
    doc="Stream-static enrichment through the REAL engine: events file-source "
    "stream broadcast-joined to the static customer dimension inside every "
    "micro-batch, then watermarked tumbling rollup per market segment -> "
    "parquet sink + checkpoint.  The join holds NO stream state (the static "
    "side re-broadcasts per micro-batch; at 100 TB the dim is a lake table "
    "refreshed between batches) and the watermark bounds the agg state; the "
    "oracle replicates append-mode emission: only windows the final "
    "watermark passed reach the sink.",
)
def streaming_enrich_join_sink_q(spark, sf_dir):
    root = scratch_dir("stream_enrich", sf_dir)
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    schema = load_table(spark, "events", sf_dir).schema
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    ss = _stream_session(spark, sf_dir)
    for _ in range(2):  # second availableNow run flushes final-watermark windows
        enriched = stream_static_enrich(_events_stream(ss, sf_dir, schema), dim,
                                        watermark=f"{_WATERMARK_S} seconds")
        run_available_now(enriched, checkpoint=ckpt, path=sink)
    out = spark.read.parquet(sink)
    return out.select(
        F.unix_timestamp("window_start").alias("hour_ts"),
        "segment", "n", "total_value",
    )


def _lifecycle_snapshots(spark, sf_dir, *, n_sym: int = 40, n_days: int = 30):
    """Deterministic universe snapshots derived from the customer table: one
    (symbol, snap_date, present) row per symbol per day, with four presence
    regimes chosen by ``c_custkey % 4`` so every lifecycle transition occurs:

      m=0  listed days 0-7, absent forever      -> absent@8,  delisted@22
      m=1  absent only days 10-12               -> absent@10, relisted@13
      m=2  md5-noise presence (~70%)            -> listed/absent/relisted churn
      m=3  listed 0-4, absent 5-24, back at 25  -> delisted@19, re-LISTED@25
                                                   (symbol reuse after delist)

    The md5 arm keeps the churn engine-portable (functions.hashing)."""
    cust = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_custkey") < n_sym)
        .select("c_custkey")
    )
    days = spark.range(n_days).select(F.col("id").alias("day_idx"))
    sym = F.concat(F.lit("SYM"), F.col("c_custkey"))
    m = F.col("c_custkey") % 4
    noisy = md5_long32(F.concat(sym, F.lit("|"), F.col("day_idx").cast("string"))) % 10 < 7
    present = (
        F.when(m == 0, F.col("day_idx") < 8)
        .when(m == 1, ~F.col("day_idx").between(10, 12))
        .when(m == 2, noisy)
        .otherwise((F.col("day_idx") < 5) | (F.col("day_idx") >= 25))
    )
    return cust.crossJoin(days).select(
        sym.alias("symbol"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("day_idx").cast("int")).alias("snap_date"),
        present.alias("present"),
        F.col("day_idx"),
    )


_LIFECYCLE_SNAPSHOT_SQL = f"""
    SELECT 'SYM' || c_custkey AS symbol,
           DATE '2024-01-01' + CAST(day_idx AS INT) AS snap_date,
           CASE
             WHEN c_custkey % 4 = 0 THEN day_idx < 8
             WHEN c_custkey % 4 = 1 THEN day_idx NOT BETWEEN 10 AND 12
             WHEN c_custkey % 4 = 2 THEN
               {md5_long32_sql("'SYM' || c_custkey || '|' || day_idx")} % 10 < 7
             ELSE day_idx < 5 OR day_idx >= 25
           END AS present
    FROM customer CROSS JOIN (SELECT range AS day_idx FROM range(30))
    WHERE c_custkey < 40
"""


@register(
    "streaming_lifecycle_sink",
    oracle=f"""
    WITH snaps AS ({_LIFECYCLE_SNAPSHOT_SQL}),
    seq AS (
      SELECT symbol, snap_date, present,
             MAX(CASE WHEN present THEN snap_date END) OVER
               (PARTITION BY symbol ORDER BY snap_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_present,
             LAG(present) OVER (PARTITION BY symbol ORDER BY snap_date) AS lag_present,
             LAG(snap_date) OVER (PARTITION BY symbol ORDER BY snap_date) AS lag_date
      FROM snaps
    )
    SELECT symbol, snap_date, 'listed' AS event FROM seq
    WHERE present AND (prev_present IS NULL
                       OR (lag_present = false
                           AND lag_date > prev_present + INTERVAL 14 DAY))
    UNION ALL
    SELECT symbol, snap_date, 'relisted' AS event FROM seq
    WHERE present AND prev_present IS NOT NULL AND lag_present = false
      AND lag_date <= prev_present + INTERVAL 14 DAY
    UNION ALL
    SELECT symbol, snap_date, 'absent' AS event FROM seq
    WHERE NOT present AND prev_present IS NOT NULL AND lag_present = true
    UNION ALL
    SELECT symbol, snap_date, 'delisted' AS event FROM seq
    WHERE NOT present AND prev_present IS NOT NULL
      AND snap_date > prev_present + INTERVAL 14 DAY
      AND (lag_present = true OR lag_date <= prev_present + INTERVAL 14 DAY)
    """,
    doc="I6's universe state machine as a CUSTOM STATEFUL STREAMING operator "
    "through the real engine (applyInPandasWithState, reference "
    "security_master.py:1198-1410): daily snapshot stream -> per-symbol "
    "state store (last_present, status) -> listed/absent/relisted/delisted "
    "transition events -> parquet sink.  TWO availableNow runs against one "
    "checkpoint with the second half of the history landed between them, so "
    "the graded events around the batch boundary (the m=0 delist at day 22, "
    "the m=3 delist at 19 and symbol-reuse listing at 25) are only correct "
    "if the state store genuinely persisted and restored across runs.  The "
    "oracle replays the state machine in SQL: prev_present is a running MAX "
    "window over present dates; because consecutive snapshots between "
    "prev_present and the current row are all absent, 'an absence happened' "
    "is lag(present)=false and 'the grace deadline passed inside the gap' "
    "is lag_date > prev_present + 14 days — each transition class is one "
    "window-predicate arm of a UNION ALL.",
)
def streaming_lifecycle_sink_q(spark, sf_dir):
    root = scratch_dir("stream_lifecycle", sf_dir)
    src = os.path.join(root, "src")
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    snaps = _lifecycle_snapshots(spark, sf_dir)
    schema = snaps.drop("day_idx").schema
    ss = _stream_session(spark, sf_dir)
    # two halves landed between two availableNow runs: run 2 processes ONLY
    # the late files, with per-symbol state restored from run 1's checkpoint
    for lo, hi in ((0, 15), (15, 30)):
        (
            snaps.filter(F.col("day_idx").between(lo, hi - 1))
            .drop("day_idx")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        stream = ss.readStream.schema(schema).parquet(src)
        run_available_now(universe_lifecycle(stream, grace_days=14),
                          checkpoint=ckpt, path=sink)
    return spark.read.parquet(sink).select("symbol", "snap_date", "event")


@register(
    "streaming_dedup_sink",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    """,
    doc="Exactly-once-per-key delivery through the REAL streaming engine: "
    "the events table is landed TWICE in the source directory (at-least-once "
    "delivery), streamed with a 2 h event-time watermark through "
    "dropDuplicatesWithinWatermark(event_id), and the parquet sink is graded "
    "against the plain events table — every event exactly once.  Duplicates "
    "are exact row copies, so the surviving row's projection is "
    "deterministic whichever copy wins.  State is bounded by the watermark "
    "(keys older than max event time - 2 h are evicted — the re-emission "
    "contract past eviction is pinned in tests/test_streaming.py).",
)
def streaming_dedup_sink_q(spark, sf_dir):
    """I4's anti-join freshness gate (reference update/app.py accession-number
    existence probe) as a streaming dedup: the production topology for a feed
    that may deliver the same record more than once.

    One availableNow pass: dropDuplicates emits each key's first row in its
    arrival batch (no watermark-held output), so a second no-data pass adds
    nothing.  At 100 TB/day the identical topology runs continuously with the
    same bounded state.
    """
    root = scratch_dir("stream_dedup", sf_dir)
    src = os.path.join(root, "src")
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    ev = load_table(spark, "events", sf_dir)
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # the duplicate delivery
    stream = _stream_session(spark, sf_dir).readStream.schema(ev.schema).parquet(src)
    from us_equity_datalake_spark.streaming.windows import streaming_dedup

    run_available_now(
        streaming_dedup(stream, keys=["event_id"], watermark_col="ts", watermark="2 hours"),
        checkpoint=ckpt, path=sink,
    )
    return spark.read.parquet(sink).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def _timeout_presences(spark, sf_dir, *, n_sym: int = 40, n_days: int = 30):
    """PRESENT-only universe feed (absence is the signal — no absent rows):
    four regimes by ``c_custkey % 4`` covering every eviction path:

      m=0  days 0-7 only        -> tail absence: delisted@21 BY TIMEOUT
      m=1  every day            -> listed@0, nothing else (deadline outlives
                                   the final watermark)
      m=2  days 0-4 and 25-29   -> gap > grace: delisted@18 'gap' + listed@25
                                   (reappearance detected on arrival, run 2)
      m=3  days 0-2 and 20-22   -> delisted@16 'gap' + listed@20; tail
                                   deadline 36 > watermark 29, so no timeout
    """
    cust = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_custkey") < n_sym)
        .select("c_custkey")
    )
    days = spark.range(n_days).select(F.col("id").alias("day_idx"))
    m = F.col("c_custkey") % 4
    present = (
        F.when(m == 0, F.col("day_idx") < 8)
        .when(m == 1, F.lit(True))
        .when(m == 2, (F.col("day_idx") < 5) | (F.col("day_idx") >= 25))
        .otherwise((F.col("day_idx") <= 2) | F.col("day_idx").between(20, 22))
    )
    return (
        cust.crossJoin(days)
        .where(present)
        .select(
            F.concat(F.lit("SYM"), F.col("c_custkey")).alias("symbol"),
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("day_idx").cast("int"))
            .cast("timestamp")
            .alias("ts"),
            F.col("day_idx"),
        )
    )


_TIMEOUT_PRESENCE_SQL = """
    SELECT 'SYM' || c_custkey AS symbol,
           DATE '2024-01-01' + CAST(day_idx AS INT) AS d
    FROM customer CROSS JOIN (SELECT range AS day_idx FROM range(30))
    WHERE c_custkey < 40 AND (
      CASE WHEN c_custkey % 4 = 0 THEN day_idx < 8
           WHEN c_custkey % 4 = 1 THEN TRUE
           WHEN c_custkey % 4 = 2 THEN day_idx < 5 OR day_idx >= 25
           ELSE day_idx <= 2 OR day_idx BETWEEN 20 AND 22 END)
"""


@register(
    "streaming_lifecycle_timeout_sink",
    oracle=f"""
    WITH pres AS ({_TIMEOUT_PRESENCE_SQL}),
    seq AS (
      SELECT symbol, d, LAG(d) OVER (PARTITION BY symbol ORDER BY d) AS prev
      FROM pres
    ),
    lastp AS (SELECT symbol, MAX(d) AS last_d FROM pres GROUP BY symbol),
    wm AS (SELECT MAX(d) AS w FROM pres)
    SELECT symbol, d AS event_date, 'listed' AS event, CAST(NULL AS VARCHAR) AS via
    FROM seq WHERE prev IS NULL OR d > prev + 14
    UNION ALL
    SELECT symbol, prev + 14 AS event_date, 'delisted' AS event, 'gap' AS via
    FROM seq WHERE prev IS NOT NULL AND d > prev + 14
    UNION ALL
    SELECT l.symbol, l.last_d + 14 AS event_date, 'delisted' AS event,
           'timeout' AS via
    FROM lastp l CROSS JOIN wm WHERE wm.w > l.last_d + 14
    """,
    doc="State-store EVICTION through the real engine — the one stateful "
    "contract a row-driven machine cannot express: the feed is PRESENT-only "
    "(absence carries no row), so a symbol that stops appearing must be "
    "delisted BY TIMEOUT (GroupStateTimeout.EventTimeTimeout fires the "
    "group function with hasTimedOut and ZERO input rows once the watermark "
    "passes last_present + 14 days), not by a later batch's arrival.  Three "
    "availableNow runs against one checkpoint: days 0-14, days 15-29, then "
    "an EMPTY run whose no-data batch flushes the expired states at the "
    "final watermark.  Reappearance past the deadline inside run 2 takes "
    "the data path instead (delisted 'gap' + fresh listing — symbol reuse). "
    "The oracle replays both paths: gap delists are LAG gaps > 14 days, "
    "timeout delists are tail absences the final watermark outlived.",
)
def streaming_lifecycle_timeout_sink_q(spark, sf_dir):
    root = scratch_dir("stream_lifetimeout", sf_dir)
    src = os.path.join(root, "src")
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    snaps = _timeout_presences(spark, sf_dir)
    schema = snaps.drop("day_idx").schema
    ss = _stream_session(spark, sf_dir)
    # two data runs + one EMPTY run: the empty run finds no new files and
    # executes the no-data batch that fires every expired timeout at the
    # final watermark (same flush discipline as run_events_tumbling_stream)
    for lo, hi in ((0, 15), (15, 30), (30, 30)):
        if lo < hi:
            (
                snaps.filter(F.col("day_idx").between(lo, hi - 1))
                .drop("day_idx")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
        stream = ss.readStream.schema(schema).parquet(src).withWatermark("ts", "0 seconds")
        run_available_now(universe_lifecycle_timeout(stream, grace_days=14),
                          checkpoint=ckpt, path=sink)
    return spark.read.parquet(sink).select("symbol", "event_date", "event", "via")


@register(
    "streaming_interval_join_outer_sink",
    oracle="""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events),
    v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT v.user_id AS user_id, epoch_us(v.ts) AS view_us,
           epoch_us(c.ts) AS click_us
    FROM v JOIN c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR
    UNION ALL
    SELECT v.user_id, epoch_us(v.ts), CAST(NULL AS BIGINT)
    FROM v CROSS JOIN mx
    WHERE NOT EXISTS (
        SELECT 1 FROM c
        WHERE c.user_id = v.user_id
          AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR
      )
      AND epoch_ms(v.ts + INTERVAL 24 HOUR) < wm_ms - 48 * 3600 * 1000
    """,
    doc="Stream-stream LEFT OUTER interval join through the REAL engine — "
    "the contract the inner form never exercises: a view with no click "
    "within 24 h is emitted WITH A NULL RIGHT SIDE only when state eviction "
    "proves no match can still arrive (watermark past view_ts + 24 h), so "
    "unmatched views inside the final watermark+interval horizon of the "
    "stream's end stay in state and NEVER reach the sink.  The oracle "
    "replays both arms: the inner matches, plus never-matched views whose "
    "eviction deadline the final ms-truncated watermark (max ts - 48 h) "
    "strictly passed.  Two availableNow runs; the second run's no-data "
    "batch performs the final eviction flush.",
)
def streaming_interval_join_outer_sink_q(spark, sf_dir):
    root = scratch_dir("stream_ssjoin_outer", sf_dir)
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    schema = load_table(spark, "events", sf_dir).schema
    ss = _stream_session(spark, sf_dir)
    for _ in range(2):
        views = _events_stream(ss, sf_dir, schema).filter(
            F.col("event_type") == "view"
        ).select("user_id", "ts")
        clicks = _events_stream(ss, sf_dir, schema).filter(
            F.col("event_type") == "click"
        ).select("user_id", F.col("ts").alias("ts_r"))
        joined = stream_stream_interval_join(
            views, clicks, within="24 hours", watermark="48 hours",
            how="left_outer",
        )
        run_available_now(joined, checkpoint=ckpt, path=sink)
    out = spark.read.parquet(sink)
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("view_us"),
        F.unix_micros("ts_r").alias("click_us"),
    )


_SM_BUMP = 50000.0  # the streamed update marker


@register(
    "streaming_merge_upsert_sink",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F' AND o_orderkey % 3 = 0
                THEN o_totalprice + {_SM_BUMP} ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    """,
    doc="Streaming MERGE INTO the snapshot lake (the Delta streaming-upsert "
    "topology): an AT-LEAST-ONCE feed (every delta row landed twice across "
    "files) is consumed with foreachBatch, each micro-batch key-deduped "
    "and merge_upsert-ed into the copy-on-write snapshot log — updates "
    "(every 3rd 'F' key, +50000.0) and inserts (the 'O' orders) across TWO "
    "availableNow runs against one checkpoint.  Exactly-once lands by "
    "IDEMPOTENCE, not dedup state: re-delivered rows merge to the same "
    "image, so the graded final table equals the base with each change "
    "applied exactly once — while the file-pruned CoW commits keep every "
    "intermediate version time-travelable.  The oracle reconstructs the "
    "final state straight from the base table.",
)
def streaming_merge_upsert_sink_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("stream_smerge", sf_dir)
    src, lake_path = os.path.join(root, "src"), os.path.join(root, "lake")
    ckpt = os.path.join(root, "ckpt")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), lake_path)

    updates = f_rows.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(_SM_BUMP)
    )
    inserts = orders.where(F.col("o_orderstatus") == "O")
    delta = updates.unionByName(inserts)
    half = F.col("o_orderkey") % 2

    def merge_batch(batch_df, _batch_id):
        d = batch_df.dropDuplicates(["o_orderkey"])
        if d.isEmpty():
            return
        snapshots.merge_upsert(spark, lake_path, d, key="o_orderkey")

    # two availableNow runs; each half of the delta is landed TWICE
    # (at-least-once delivery) before its run
    for want in (0, 1):
        part = delta.where(half == want).coalesce(1)
        part.write.mode("append").parquet(src)
        part.write.mode("append").parquet(src)  # the duplicate delivery
        stream = spark.readStream.schema(delta.schema).parquet(src)
        run_available_now(stream, checkpoint=ckpt, foreach_batch=merge_batch)
    return snapshots.read_version(spark, lake_path).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "streaming_from_snapshot_sink",
    oracle=f"""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events),
    b AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
             - CAST(epoch(date_trunc('hour', ts)) AS BIGINT) % 7200 AS bucket_ts,
             event_type, value
      FROM events
    )
    SELECT bucket_ts, event_type, COUNT(*) AS n,
           {dec_sum_sql('value')} AS total_value
    FROM b, mx
    GROUP BY bucket_ts, event_type, wm_ms
    HAVING (bucket_ts + 7200) * 1000 <= wm_ms - {_WATERMARK_S} * 1000
    """,
    doc="Streaming FROM the snapshot log — the lake-to-stream half of the "
    "loop whose stream-to-lake half is streaming_merge_upsert_sink: events "
    "land in the copy-on-write lake as THREE chronological commits, and "
    "after each commit stage_incremental_files tails the manifest delta "
    "(hardlinks ONLY committed files — the Delta streaming-source "
    "visibility contract; a file a crashed writer left unpublished never "
    "reaches the stream) into a staging dir a real file-source stream "
    "reads: 2-hour tumbling watermarked agg -> parquet sink, ONE engine "
    "checkpoint across all runs, so window state and the watermark RESUME "
    "across commits — early windows are emitted by earlier runs, and a "
    "final no-data run flushes everything the last watermark passed.  The "
    "oracle models the final append-mode state: every 2-hour bucket whose "
    "end the final ms-truncated watermark (max ts - 2 h) has passed.",
)
def streaming_from_snapshot_sink_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("stream_fromsnap", sf_dir)
    lake_path = os.path.join(root, "lake")
    staging = os.path.join(root, "staging")
    feed_state = os.path.join(root, "feed_state.json")
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")

    events = load_table(spark, "events", sf_dir)
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    c1, c2 = lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3
    chunks = [
        events.where(F.col("ts") < F.lit(c1)),
        events.where((F.col("ts") >= F.lit(c1)) & (F.col("ts") < F.lit(c2))),
        events.where(F.col("ts") >= F.lit(c2)),
    ]
    schema = events.schema
    ss = _stream_session(spark, sf_dir)

    def run_once():
        src = ss.readStream.schema(schema).parquet(staging)
        run_available_now(
            tumbling_counts(src, window="2 hours",
                            watermark=f"{_WATERMARK_S} seconds", exact_sum=True),
            checkpoint=ckpt, path=sink,
        )

    for chunk in chunks:
        snapshots.commit(chunk.coalesce(1), lake_path)
        snapshots.stage_incremental_files(lake_path, staging, feed_state)
        run_once()
    run_once()  # no-data flush: emit every window the final watermark passed
    out = spark.read.parquet(sink)
    return out.select(
        F.unix_timestamp("window_start").alias("bucket_ts"),
        "event_type", "n", "total_value",
    )


def _cms_stream_oracle(n_shards: int = 4) -> str:
    from us_equity_datalake_spark.operators.sketch import cms_sql

    parts, finals = [], []
    for s in range(n_shards):
        grid, probe_arr = cms_sql(f"u{s}", "u", depth=4, width=1024, seed=101)
        parts.append(f"""
    u{s} AS (
      SELECT CAST(user_id AS VARCHAR) AS u FROM events WHERE user_id % {n_shards} = {s}
    ),
    g{s} AS ({grid}),
    d{s} AS (
      SELECT DISTINCT user_id, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events WHERE user_id % {n_shards} = {s}
    ),
    p{s} AS (
      SELECT user_id, unnest({probe_arr}) AS bucket, unnest(range(0, 4)) AS row_i
      FROM d{s}
    ),
    e{s} AS (
      SELECT CAST({s} AS BIGINT) AS shard, p.user_id,
             CAST(MIN(g.c) AS BIGINT) AS cms_n
      FROM p{s} p JOIN g{s} g USING (row_i, bucket)
      GROUP BY p.user_id
    )""")
        finals.append(f"SELECT * FROM e{s}")
    return "WITH " + ",".join(p.strip() for p in parts) + "\n    " + "\n    UNION ALL ".join(finals)


@register(
    "streaming_cms_heavy_hitters_sink",
    oracle=_cms_stream_oracle(),
    doc="SKETCH-IN-STATE through the REAL engine: a fixed 4x1024 Count-Min "
    "grid lives in the state store per shard (bounded state for an "
    "unbounded key space — the 100 TB streaming-counting property), fed "
    "across TWO availableNow runs against one checkpoint (the second "
    "run's grid RESUMES from the first's — integer adds are commutative, "
    "so the final grid depends only on the event multiset).  Each "
    "invocation emits the shard's current estimates tagged with a "
    "monotone n_seen; the graded read-back takes each shard's LAST "
    "report, which must equal the batch-built per-shard CMS the oracle "
    "computes with the same md5 universal-hash family — bit-exact, "
    "including the overestimates.",
)
def streaming_cms_heavy_hitters_sink_q(spark, sf_dir):
    from pyspark.sql import Window

    from us_equity_datalake_spark.streaming.stateful import cms_heavy_hitters_stream

    root = scratch_dir("stream_cmsstate", sf_dir)
    src, sink, ckpt = (os.path.join(root, d) for d in ("src", "sink", "ckpt"))
    events = load_table(spark, "events", sf_dir).select("user_id", "ts")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    chunks = [events.where(F.col("ts") < F.lit(mid)),
              events.where(F.col("ts") >= F.lit(mid))]
    ss = _stream_session(spark, sf_dir)
    for chunk in chunks:
        chunk.coalesce(1).write.mode("append").parquet(src)
        stream = ss.readStream.schema(events.schema).parquet(src)
        run_available_now(cms_heavy_hitters_stream(stream), checkpoint=ckpt, path=sink)
    out = spark.read.parquet(sink)
    w = Window.partitionBy("shard")
    return (
        out.withColumn("__mx", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("__mx"))
        .select("shard", "user_id", "cms_n")
    )


# ---------------------------------------------------------------------------
# Streaming redaction: a request feed drives merge-on-read DELETEs (round 9)
# ---------------------------------------------------------------------------


@register(
    "streaming_dv_delete_sink",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum,
           CAST(3 AS BIGINT) AS final_version,
           CAST(0 AS BIGINT) AS files_rewritten
    FROM orders
    WHERE o_custkey % 97 NOT IN (1, 2)
    GROUP BY o_orderstatus
    """,
    doc="Right-to-be-forgotten pipeline through the REAL streaming engine: "
    "a parquet-source stream of redaction requests (two request files, "
    "maxFilesPerTrigger=1 -> two deterministic micro-batches) drives "
    "foreachBatch -> snapshots.delete_where_dv against a snapshot-lake "
    "orders table.  Each micro-batch publishes ONE deletion-vector commit: "
    "zero data files rewritten (the graded files_rewritten rider sums "
    "both batches), the log advances v1->v3, and the final per-status "
    "count + exact decimal sum must equal the base table minus every "
    "requested customer.  Checkpoint + the lake's optimistic publish give "
    "exactly-once per batch; a replayed batch re-deletes zero live rows "
    "(DV deletes are idempotent).  Request batches are human-scale "
    "(GDPR cadence), so the key set rides an isin literal; a bulk feed "
    "would join keys against the lineage scan instead.",
)
def streaming_dv_delete_sink_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("stream_dvdel", sf_dir)
    lake, req_dir, ckpt = (
        os.path.join(root, "lake"), os.path.join(root, "req"), os.path.join(root, "ckpt")
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(
        orders.repartitionByRange(8, "o_orderkey"), lake, stats_cols=["o_orderkey"]
    )
    custs = orders.select((F.col("o_custkey") % 97).alias("m"), "o_custkey").distinct()
    for i, m in enumerate((1, 2)):  # one request file per redaction wave
        custs.where(F.col("m") == m).select("o_custkey").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(req_dir, f"wave{i}"))

    rewritten = []

    def redact(batch_df, _batch_id):
        keys = [r["o_custkey"] for r in batch_df.select("o_custkey").distinct().collect()]
        if keys:
            r = snapshots.delete_where_dv(
                spark, lake, F.col("o_custkey").isin(keys)
            )
            rewritten.append(r["files_rewritten"])

    stream = (
        spark.readStream.schema("o_custkey bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(req_dir, "*"))
    )
    run_available_now(stream, checkpoint=ckpt, foreach_batch=redact)

    return (
        snapshots.read_version(spark, lake)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("price_sum"),
        )
        .select(
            "o_orderstatus", "n_rows", "price_sum",
            F.lit(snapshots.latest_version(lake)).cast("long").alias("final_version"),
            F.lit(sum(rewritten)).cast("long").alias("files_rewritten"),
        )
    )


_CDFS_UP = 50000.0  # the update_dv bump on o_totalprice


@register(
    "streaming_cdf_apply_sink",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    ),
    live2 AS (SELECT * FROM f WHERE o_orderkey % 7 <> 3),
    v3 AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 5 = 1
                  THEN o_totalprice + {_CDFS_UP} ELSE o_totalprice END AS price
      FROM live2
    ),
    final AS (
      SELECT * FROM v3
      UNION ALL
      SELECT o_orderstatus, o_totalprice AS price
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT arm, o_orderstatus, n_rows, total_price, applied_version FROM (
      SELECT 'direct' AS arm, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('price')} AS total_price,
             CAST(4 AS BIGINT) AS applied_version
      FROM final GROUP BY o_orderstatus
      UNION ALL
      SELECT 'maintained', o_orderstatus, CAST(COUNT(*) AS BIGINT),
             {dec_sum_sql('price')}, CAST(4 AS BIGINT)
      FROM final GROUP BY o_orderstatus
    )
    """,
    doc="Streaming CDF CONSUMER — the medallion bronze→silver incremental "
    "loop closed through the REAL engine: a source lake advances append → "
    "DV delete → DV update → append (v1..v4); after each publish a one-row "
    "version POINTER lands in a staging dir a file-source stream tails "
    "(two availableNow runs against one checkpoint; the v2 pointer is "
    "deliberately delivered TWICE, and v2+v3 arrive in ONE micro-batch so "
    "the fold applies them in order).  foreachBatch applies, per unseen "
    "version, the "
    "SIGNED row deltas of log_replay_deltas — which dispatches each "
    "transition at O(Δ): the DV commits semi-join only the newly-vectored "
    "files, the append scans only the added files, and the source table is "
    "never rescanned — folding exact DECIMAL(30,6) sums into a downstream "
    "per-status aggregate table (itself a snapshot lake, so every fold is "
    "a versioned commit).  At-least-once pointer delivery lands exactly "
    "once via the applied-through watermark.  The graded frame holds BOTH "
    "the maintained table and a direct v4 recompute — the identity is what "
    "the oracle hashes.",
)
def streaming_cdf_apply_sink_q(spark, sf_dir):
    import json as _json

    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("stream_cdfapply", sf_dir)
    src_lake = os.path.join(root, "src")
    down_lake = os.path.join(root, "down")
    staging = os.path.join(root, "pointers")
    ckpt = os.path.join(root, "ckpt")
    applied_path = os.path.join(root, "applied.json")
    os.makedirs(staging, exist_ok=True)

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), src_lake)  # v1

    def state_agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("total"),
        )

    # downstream seed: the v1 aggregate (decimal total — folds stay exact);
    # status-sized, so every downstream commit is a single file
    snapshots.commit(state_agg(f_rows).coalesce(1), down_lake)
    with open(applied_path, "w") as fh:
        _json.dump({"version": 1}, fh)

    def apply_batch(batch_df, _batch_id):
        vs = sorted({int(r["version"]) for r in batch_df.collect()})
        with open(applied_path) as fh:
            applied = _json.load(fh)["version"]
        pend = [v for v in vs if v > applied]  # re-delivered pointers drop here
        if not pend:
            return
        # ONE pass for every unseen version in the batch: the signed deltas
        # are additive, so the per-version feeds union into a single
        # status-sized aggregate and the downstream lake takes ONE fold
        # commit per micro-batch instead of one per version (the v2+v3
        # single-batch arm used to run the read+fold+commit twice)
        d = None
        for v in pend:
            dv = snapshots.log_replay_deltas(
                spark, src_lake, v - 1, v, key="o_orderkey"
            )
            d = dv if d is None else d.unionByName(dv)
        drows = d.groupBy("o_orderstatus").agg(
            F.sum("__w").cast("long").alias("dn"),
            F.sum(
                F.col("o_totalprice").cast("decimal(30,6)") * F.col("__w")
            ).alias("dt"),
        ).collect()
        delta = local_frame(
            spark,
            [(r["o_orderstatus"], r["dn"], r["dt"]) for r in drows],
            "o_orderstatus string, dn long, dt decimal(30,6)",
        )
        cur = snapshots.read_version(spark, down_lake)
        folded = (
            cur.join(delta, "o_orderstatus", "full_outer")
            .select(
                "o_orderstatus",
                (F.coalesce(F.col("n_rows"), F.lit(0))
                 + F.coalesce(F.col("dn"), F.lit(0))).cast("long").alias("n_rows"),
                (F.coalesce(F.col("total"), F.lit(0).cast("decimal(30,6)"))
                 + F.coalesce(F.col("dt"), F.lit(0).cast("decimal(30,6)"))
                 ).cast("decimal(30,6)").alias("total"),
            )
            .where(F.col("n_rows") > 0)
        )
        snapshots.commit(folded.coalesce(1), down_lake, mode="overwrite")
        tmp = f"{applied_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            _json.dump({"version": int(pend[-1])}, fh)
        os.replace(tmp, applied_path)

    ptr_seq = iter(range(1_000_000))

    def stage_pointer(v):
        # the pointer is a ONE-ROW external input to the stream: write it
        # driver-side (pyarrow) with an atomic rename — a Spark write job
        # costs ~0.2 s of scheduling per pointer for a single row.  The
        # dot-prefixed temp name is invisible to the file source until the
        # rename publishes it, same discipline as the snapshot commits.
        import pyarrow as pa
        import pyarrow.parquet as pq

        name = f"ptr-{v}-{next(ptr_seq)}.parquet"
        tmp = os.path.join(staging, "." + name + ".tmp")
        pq.write_table(
            pa.table({"version": pa.array([v], type=pa.int64())}), tmp
        )
        os.replace(tmp, os.path.join(staging, name))

    def run_once():
        stream = spark.readStream.schema("version long").parquet(staging)
        run_available_now(stream, checkpoint=ckpt, foreach_batch=apply_batch)

    # v2 (DV delete) + v3 (DV update): the v2 pointer is delivered TWICE
    # (at-least-once) and both versions land in ONE micro-batch — the fold
    # must apply them in order, once each
    snapshots.delete_where_dv(spark, src_lake, F.col("o_orderkey") % 7 == 3)
    stage_pointer(2)
    stage_pointer(2)
    snapshots.update_where_dv(
        spark, src_lake, F.col("o_orderkey") % 5 == 1,
        {"o_totalprice": F.col("o_totalprice") + F.lit(_CDFS_UP)},
    )
    stage_pointer(3)
    run_once()
    # v4: plain append of the 'P' orders, applied by a SECOND engine run
    # against the same checkpoint (cross-run resume)
    snapshots.commit(orders.where(F.col("o_orderstatus") == "P"), src_lake)
    stage_pointer(4)
    run_once()

    with open(applied_path) as fh:
        applied = _json.load(fh)["version"]

    def arm(name, df):
        return df.select(
            F.lit(name).alias("arm"),
            "o_orderstatus",
            "n_rows",
            F.col("total").cast("double").alias("total_price"),
            F.lit(applied).cast("long").alias("applied_version"),
        )

    maintained = arm("maintained", snapshots.read_version(spark, down_lake))
    direct = arm("direct", state_agg(snapshots.read_version(spark, src_lake, 4)))
    return direct.unionByName(maintained)


_CFS_UP = 25000.0  # the update_dv bump on o_totalprice (change-feed source arm)


@register(
    "streaming_change_feed_source_sink",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    ),
    live2 AS (SELECT * FROM f WHERE o_orderkey % 7 <> 3),
    v3 AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 5 = 1
                  THEN o_totalprice + {_CFS_UP} ELSE o_totalprice END AS price
      FROM live2
    ),
    final AS (
      SELECT * FROM v3
      UNION ALL
      SELECT o_orderstatus, o_totalprice AS price
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT arm, o_orderstatus, n_rows, total_price, fed_version, replay_rows
    FROM (
      SELECT 'direct' AS arm, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('price')} AS total_price,
             CAST(4 AS BIGINT) AS fed_version,
             CAST(0 AS BIGINT) AS replay_rows
      FROM final GROUP BY o_orderstatus
      UNION ALL
      SELECT 'maintained', o_orderstatus, CAST(COUNT(*) AS BIGINT),
             {dec_sum_sql('price')}, CAST(4 AS BIGINT), CAST(0 AS BIGINT)
      FROM final GROUP BY o_orderstatus
    )
    """,
    doc="CDF as a streaming SOURCE with RETRACTIONS — the 16th sink, closing "
    "VERDICT r10 #3: stage_change_feed_files writes each transition's change "
    "ROWS (insert / delete / update_preimage / update_postimage, stamped "
    "_change_type + _commit_version, the Delta readChangeFeed shape) into a "
    "staging dir a real file-source stream ingests DIRECTLY — a DV delete "
    "feeds the stream retraction rows instead of raising (the old "
    "stage_incremental_files contract) or needing the pointer-file side "
    "channel (streaming_cdf_apply_sink): the consumer never re-opens the "
    "source lake.  The source advances append(v1) → DV delete(v2) → DV "
    "update(v3) → append(v4); THREE availableNow runs share ONE engine "
    "checkpoint.  foreachBatch folds the signed rows into a downstream "
    "snapshot-lake aggregate with exact DECIMAL sums.  Staging is "
    "EXACTLY-ONCE (atomic range-directory rename): the v2+v3 advance is "
    "deliberately CRASH-REPLAYED (state rewound to its pre-advance value) "
    "and must re-stage ZERO rows — graded as the `replay_rows` column — "
    "while the consumer keeps (version, change_type, key) dedup and an "
    "applied-through version watermark as defense-in-depth.  Reference "
    "anchor: the read-check-append incremental semantics of "
    "update/app.py:877-958 (SURVEY I4).  The graded frame holds BOTH the "
    "maintained table and a direct v4 recompute — the identity is what the "
    "oracle hashes.",
)
def streaming_change_feed_source_sink_q(spark, sf_dir):
    import json as _json

    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("stream_cfsource", sf_dir)
    src_lake = os.path.join(root, "src")
    down_lake = os.path.join(root, "down")
    staging = os.path.join(root, "cdf")
    feed_state = os.path.join(root, "feed_state.json")
    ckpt = os.path.join(root, "ckpt")
    applied_path = os.path.join(root, "applied.json")
    os.makedirs(root, exist_ok=True)

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), src_lake)  # v1

    def state_agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("total"),
        )

    # downstream seed: EMPTY state — unlike the pointer sink, the feed
    # itself delivers v1 as insert rows, so the consumer starts from zero
    snapshots.commit(state_agg(f_rows.limit(0)).coalesce(1), down_lake)
    with open(applied_path, "w") as fh:
        _json.dump({"version": 0}, fh)

    def stage():
        return snapshots.stage_change_feed_files(
            spark, src_lake, staging, feed_state, key="o_orderkey"
        )

    def rewind_feed(v):
        # simulate the staging crash window: rows landed, state did not
        with open(feed_state, "w") as fh:
            _json.dump({"version": v}, fh)

    stage()  # v1 inserts
    cdf_schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(staging).schema
    )

    def apply_batch(batch_df, _batch_id):
        with open(applied_path) as fh:
            applied = _json.load(fh)["version"]
        pend = batch_df.where(F.col("_commit_version") > applied)
        # a correct feed emits each (version, change_type, key) at most
        # once; duplicates are file-level redelivery — drop them exactly
        pend = pend.dropDuplicates(
            ["_commit_version", "_change_type", "o_orderkey"]
        )
        w = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        # ONE pass over the batch: the status-sized delta AND the applied-
        # through watermark come from the same grouped collect — the old
        # shape ran a max() action and then re-executed the whole
        # dedup+aggregate pipeline inside the fold's commit write
        drows = pend.withColumn("__w", w).groupBy("o_orderstatus").agg(
            F.sum("__w").cast("long").alias("dn"),
            F.sum(
                F.col("o_totalprice").cast("decimal(30,6)") * F.col("__w")
            ).alias("dt"),
            F.max("_commit_version").alias("hi"),
        ).collect()
        if not drows:
            return  # everything in this batch already folded in
        hi = max(r["hi"] for r in drows)
        delta = local_frame(
            spark,
            [(r["o_orderstatus"], r["dn"], r["dt"]) for r in drows],
            "o_orderstatus string, dn long, dt decimal(30,6)",
        )
        cur = snapshots.read_version(spark, down_lake)
        folded = (
            cur.join(delta, "o_orderstatus", "full_outer")
            .select(
                "o_orderstatus",
                (F.coalesce(F.col("n_rows"), F.lit(0))
                 + F.coalesce(F.col("dn"), F.lit(0))).cast("long").alias("n_rows"),
                (F.coalesce(F.col("total"), F.lit(0).cast("decimal(30,6)"))
                 + F.coalesce(F.col("dt"), F.lit(0).cast("decimal(30,6)"))
                 ).cast("decimal(30,6)").alias("total"),
            )
            .where(F.col("n_rows") > 0)
        )
        snapshots.commit(folded.coalesce(1), down_lake, mode="overwrite")
        tmp = f"{applied_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            _json.dump({"version": int(hi)}, fh)
        os.replace(tmp, applied_path)

    def run_once():
        stream = (
            spark.readStream.schema(cdf_schema)
            .option("recursiveFileLookup", "true")
            .parquet(staging)
        )
        run_available_now(stream, checkpoint=ckpt, foreach_batch=apply_batch)

    run_once()  # applies v1 (all inserts)

    # v2 (DV delete) + v3 (DV update), staged in ONE advance — then the
    # advance CRASH-REPLAYS (state rewound to the pre-advance value before
    # anyone ran): exactly-once staging must re-stage ZERO rows (the range
    # directory already exists) — the graded `replay_rows` column pins it
    snapshots.delete_where_dv(spark, src_lake, F.col("o_orderkey") % 7 == 3)
    snapshots.update_where_dv(
        spark, src_lake, F.col("o_orderkey") % 5 == 1,
        {"o_totalprice": F.col("o_totalprice") + F.lit(_CFS_UP)},
    )
    stage()
    rewind_feed(1)
    replay_rows = stage()["rows"]  # crash-replayed advance: must stage 0
    run_once()

    # v4: plain append, applied by a later run on the same checkpoint
    snapshots.commit(orders.where(F.col("o_orderstatus") == "P"), src_lake)
    stage()
    run_once()

    with open(feed_state) as fh:
        fed = _json.load(fh)["version"]

    def arm(name, df):
        return df.select(
            F.lit(name).alias("arm"),
            "o_orderstatus",
            "n_rows",
            F.col("total").cast("double").alias("total_price"),
            F.lit(fed).cast("long").alias("fed_version"),
            F.lit(replay_rows).cast("long").alias("replay_rows"),
        )

    maintained = arm("maintained", snapshots.read_version(spark, down_lake))
    direct = arm("direct", state_agg(snapshots.read_version(spark, src_lake, 4)))
    return direct.unionByName(maintained)


_CRS_UP = 10000.0  # the update_dv bump on o_totalprice (replica arm)


@register(
    "streaming_cdc_replica_sink",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    ),
    live2 AS (SELECT * FROM f WHERE o_orderkey % 7 <> 3),
    v3 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 1
                  THEN o_totalprice + {_CRS_UP} ELSE o_totalprice END
             AS o_totalprice
      FROM live2
    )
    SELECT v3.*, 0 AS files_rewritten_total, 0 AS replica_overwrites FROM v3
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           0 AS files_rewritten_total, 0 AS replica_overwrites
    FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="Streaming CDC REPLICATION — the 17th sink and the canonical "
    "readChangeFeed consumer: a downstream REPLICA table (not an "
    "aggregate) maintained row-by-row from the change-feed stream alone. "
    "The source advances append(v1) → DV delete(v2) → DV update(v3) → "
    "append(v4); stage_change_feed_files feeds the change rows and TWO "
    "availableNow runs share one checkpoint, each batch spanning TWO "
    "versions — so the apply must resolve per-key outcomes ACROSS versions "
    "inside a batch (a row inserted at v1 and deleted at v2 in the same "
    "batch must never reach the replica): per key, argmax by "
    "(_commit_version, postimage-over-preimage).  The apply itself is the "
    "scale-right MERGE-ON-READ shape (r12, retiring the r11 full-overwrite "
    "weak mark): every batch key's old image is DV-DELETED from the "
    "replica via a broadcast keys semi-join (zero files rewritten, "
    "O(batch) sidecars) and the batch's upsert images land as ONE append "
    "— per-batch I/O is O(Δ), never O(replica), which at a 100 TB replica "
    "is the difference between a viable consumer and a nightly rewrite.  "
    "The delete-then-append order makes crash replay idempotent (a "
    "half-applied batch's appended rows are keys in the batch, so the "
    "redelivered delete removes them before the re-append).  The "
    "applied-through watermark stays mandatory even though the apply looks "
    "idempotent: a REDELIVERED v1 insert file applied after v2's delete "
    "would resurrect the row.  Graded at ROW level: the replica's full "
    "content must hash-equal a direct read of source v4 — stronger than "
    "the aggregate consumers' identities — PLUS two oracle-pinned "
    "efficiency columns: files_rewritten_total (sum over every apply "
    "commit) and replica_overwrites (overwrite-mode commits in the "
    "replica's history) must both be exactly 0.  Reference anchor: "
    "update/app.py:877-958 read-check-append (SURVEY I4).",
)
def streaming_cdc_replica_sink_q(spark, sf_dir):
    import json as _json

    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("stream_cdcreplica", sf_dir)
    src_lake = os.path.join(root, "src")
    replica = os.path.join(root, "replica")
    staging = os.path.join(root, "cdf")
    feed_state = os.path.join(root, "feed_state.json")
    ckpt = os.path.join(root, "ckpt")
    applied_path = os.path.join(root, "applied.json")
    os.makedirs(root, exist_ok=True)

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), src_lake)  # v1
    snapshots.commit(f_rows.limit(0).coalesce(1), replica)  # empty seed
    with open(applied_path, "w") as fh:
        _json.dump({"version": 0}, fh)
    rewrites = {"n": 0}  # graded: the whole apply must rewrite ZERO files

    def stage():
        return snapshots.stage_change_feed_files(
            spark, src_lake, staging, feed_state, key="o_orderkey"
        )

    def apply_batch(batch_df, _batch_id):
        with open(applied_path) as fh:
            applied = _json.load(fh)["version"]
        pend = batch_df.where(F.col("_commit_version") > applied).dropDuplicates(
            ["_commit_version", "_change_type", "o_orderkey"]
        )
        # per-key outcome across every version in the batch: the HIGHEST
        # (version, postimage-over-preimage) row wins; 'delete' wins its
        # version alone (a key cannot be both deleted and updated in one
        # commit), preimages always lose to their postimage twin
        rank = F.when(F.col("_change_type") == "update_preimage", F.lit(0)).otherwise(F.lit(1))
        win = pend.groupBy("o_orderkey").agg(
            F.max(
                F.struct(
                    F.col("_commit_version"), rank.alias("__r"),
                    F.col("_change_type"), F.col("o_orderstatus"),
                    F.col("o_totalprice"),
                )
            ).alias("w")
        ).select(
            "o_orderkey",
            F.col("w._commit_version").alias("__v"),
            F.col("w._change_type").alias("_change_type"),
            F.col("w.o_orderstatus").alias("o_orderstatus"),
            F.col("w.o_totalprice").alias("o_totalprice"),
        )
        # materialize_once, not a bare persist: the cache manager
        # materializes a cached plan without AQE coalescing
        # (full-shuffle-width stages on a batch-sized key set); this runs
        # the batch pipeline once through the normal AQE path.  A
        # CONTINUOUS (non-availableNow) deployment should also unpersist
        # the materialized frame at end of batch (ADVICE r12) — these
        # short availableNow runs leave it to the ContextCleaner.
        win = materialize_once(win)
        # ONE key-set-sized aggregate yields the applied-through
        # watermark AND the upsert count — the old shape ran a max()
        # action over the whole batch pipeline, built win as a second
        # execution of it, and probed isEmpty as a third action.  The
        # winner rows carry per-key max versions, whose max IS the
        # batch's max version (that version's keys have it as winner).
        is_up = F.col("_change_type").isin("insert", "update_postimage")
        hi, n_ups = win.agg(
            F.max("__v"), F.sum(is_up.cast("int"))
        ).first()
        if hi is None:
            return
        ups = win.where(is_up).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # O(Δ) apply: DV-delete every batch key's old image (zero
        # rewrites; keys that aren't in the replica match nothing and
        # the no-op burns no version), then append the upsert images.
        # Delete-first makes a crash-replayed batch idempotent.
        d = snapshots.delete_where_dv(
            spark, replica, keys=win, key="o_orderkey"
        )
        rewrites["n"] += d["files_rewritten"]
        if n_ups:
            snapshots.commit(
                ups.repartitionByRange(4, "o_orderkey"), replica
            )
        tmp = f"{applied_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            _json.dump({"version": int(hi)}, fh)
        os.replace(tmp, applied_path)

    def run_once(schema):
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(staging)
        )
        run_available_now(stream, checkpoint=ckpt, foreach_batch=apply_batch)

    # v2 lands BEFORE the first engine run, so batch 1 spans v1+v2: the
    # cross-version in-batch resolution is exercised (insert-then-delete
    # keys never reach the replica)
    snapshots.delete_where_dv(spark, src_lake, F.col("o_orderkey") % 7 == 3)
    stage()
    cdf_schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(staging).schema
    )
    run_once(cdf_schema)
    # v3 (DV update) + v4 (append) in batch 2, same checkpoint
    snapshots.update_where_dv(
        spark, src_lake, F.col("o_orderkey") % 5 == 1,
        {"o_totalprice": F.col("o_totalprice") + F.lit(_CRS_UP)},
    )
    snapshots.commit(orders.where(F.col("o_orderstatus") == "P"), src_lake)
    stage()
    run_once(cdf_schema)

    n_overwrites = sum(
        1 for h in snapshots.history(replica) if h.get("mode") == "overwrite"
    )
    return snapshots.read_version(spark, replica).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(rewrites["n"]).cast("int").alias("files_rewritten_total"),
        F.lit(n_overwrites).cast("int").alias("replica_overwrites"),
    )
