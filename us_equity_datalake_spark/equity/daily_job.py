"""Daily incremental update — the reference's top entry point
(update/app.py:1053-1199 ``run_daily_update``) re-expressed as one idempotent
Spark batch over a partitioned lake.

Stage order mirrors §3.1: universe refresh + top-k → market-open gate → tick
re-land (I3 month overwrite) → fundamentals normalize + append (I4) → TTM →
metrics → sentiment score + append (I4).  Every write is either a dynamic
partition overwrite or an anti-join append, so re-running the job for the
same date is a no-op — the reference's resume/checkpoint machinery (I7)
collapses into idempotence.

All inputs are DataFrames (already landed by the ingest edge, sources.ingest);
this module is pure compute + lake writes — no network.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from us_equity_datalake_spark.equity.fundamentals import normalize_fundamental
from us_equity_datalake_spark.operators._cache import materialize_once
from us_equity_datalake_spark.equity.metrics import compute_metrics_long
from us_equity_datalake_spark.equity.sentiment import aggregate_filing_sentiment, chunk_text_udf, score_chunks
from us_equity_datalake_spark.equity.ttm import compute_ttm_long
from us_equity_datalake_spark.equity.universe import filter_universe, universe_transition
from us_equity_datalake_spark.sources.lake import overwrite_partition, read_check_append, write_partitioned
from us_equity_datalake_spark.sources.ingest import read_json_state, write_json_state
from us_equity_datalake_spark.sources.registry import local_frame


@dataclass(frozen=True)
class LakePaths:
    root: str

    @property
    def ticks_daily(self) -> str:
        return os.path.join(self.root, "raw", "ticks", "daily")

    @property
    def fundamental(self) -> str:
        return os.path.join(self.root, "raw", "fundamental")

    @property
    def ttm(self) -> str:
        return os.path.join(self.root, "derived", "ttm")

    @property
    def metrics(self) -> str:
        return os.path.join(self.root, "derived", "metrics")

    @property
    def sentiment(self) -> str:
        return os.path.join(self.root, "derived", "sentiment")

    @property
    def top3000(self) -> str:
        return os.path.join(self.root, "symbols", "top3000")

    @property
    def universe_state(self) -> str:
        return os.path.join(self.root, "state", "prev_universe.json")

    @property
    def security_master(self) -> str:
        return os.path.join(self.root, "master", "security_master")


def _exists(path: str) -> bool:
    return os.path.exists(path)


def update_universe(spark: SparkSession, lake: LakePaths, snapshot: DataFrame, *, target_date: str) -> dict:
    """Stage 1 (app.py:976-1051 + security_master.update_from_sec): filter the
    raw directory snapshot, diff against yesterday's state, persist both."""
    cur = filter_universe(snapshot)
    tickers = sorted(r.ticker for r in cur.select("ticker").collect())
    prev_state = read_json_state(lake.universe_state)
    n_changes = 0
    if prev_state:
        # explicit schema: createDataFrame cannot infer types from an empty
        # ticker list (a zero-ticker day must not abort the next day's run)
        from pyspark.sql import types as T

        prev = local_frame(
            spark,
            [(t,) for t in prev_state["tickers"]],
            T.StructType([T.StructField("ticker", T.StringType())]),
        )
        diff = universe_transition(prev, cur.select("ticker"), key="ticker", as_of=target_date)
        n_changes = diff.filter(F.col("status") != "still_active").count()
    os.makedirs(os.path.dirname(lake.universe_state), exist_ok=True)
    write_json_state(lake.universe_state, {"asof": target_date, "tickers": tickers})
    return {"universe_size": len(tickers), "universe_changes": n_changes}


def update_top3000(lake: LakePaths, ticks_batch: DataFrame, *, k: int = 3000, min_adv: float = 1000.0) -> dict:
    """Stage 2 (A3 + T1, universe/manager.py:216-243): trailing dollar-volume
    ranking → top-k → parquet (the reference's txt list is a format detail)."""
    adv = ticks_batch.groupBy("symbol").agg(F.avg(F.col("close") * F.col("volume")).alias("adv"))
    top = adv.filter(F.col("adv") > min_adv).orderBy(F.desc("adv"), F.asc("symbol")).limit(k)
    top = top.persist()
    try:
        write_partitioned(top, lake.top3000, partition_by=[])
        return {"top_k": top.count()}  # served from cache, not a second ranking pass
    finally:
        top.unpersist()


def write_symbol_list_txt(
    df: DataFrame, path: str, *, col: str = "symbol", order_by: list | None = None
) -> int:
    """S10 text sink (reference publishers.py:846-904): newline-joined symbol
    list written as ONE text object.  The list is top-k bounded (3000 rows)
    by construction, so the driver-side write mirrors the reference's single
    put_object exactly and costs nothing at any lake scale — this is
    deliberately NOT a distributed write.

    Ordering contract (ADVICE r4): Spark only guarantees collect() order for
    sorted/limit plans (TakeOrderedAndProject); for anything else the row
    order is nondeterministic.  Pass ``order_by`` (a list of Columns) and the
    sort is applied HERE, immediately before the collect — or pass a
    DataFrame that is itself the direct result of orderBy()/limit()."""
    if order_by is not None:
        df = df.orderBy(*order_by)
    values = [r[0] for r in df.select(col).collect()]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(str(v) for v in values))
        if values:
            fh.write("\n")
    return len(values)


def update_daily_ticks(spark: SparkSession, lake: LakePaths, ticks_batch: DataFrame) -> dict:
    """Stage 4 (I3, app.py:296-445): total re-land of the month-to-date slice,
    dynamic overwrite of exactly the (year, month) partitions present."""
    pt = ticks_batch.withColumn("year", F.year("timestamp")).withColumn("month", F.month("timestamp"))
    pt = pt.persist()
    try:
        if _exists(lake.ticks_daily):
            overwrite_partition(spark, pt, lake.ticks_daily, partition_by=["year", "month"])
        else:
            write_partitioned(pt, lake.ticks_daily, partition_by=["year", "month"])
        return {"ticks_landed": pt.count()}
    finally:
        pt.unpersist()


N_SYM_BUCKETS = 64  # derived-table partition count: pmod(hash(symbol), N)


def _sym_bucket(col: Column, n_buckets: int = N_SYM_BUCKETS) -> Column:
    return F.pmod(F.hash(col), F.lit(n_buckets))


def update_fundamentals(
    spark: SparkSession, lake: LakePaths, raw: DataFrame, *, incremental: bool = True,
    n_buckets: int = N_SYM_BUCKETS, report_counts: bool = True,
) -> dict:
    """Stage 7 (F1-F3 + I4 + W1 + metrics): normalize raw datapoints, append
    fresh rows, rebuild the derived TTM/metrics tables.

    ``incremental=True`` (the 100 TB shape): derived tables are partitioned
    by ``sym_bucket = pmod(hash(symbol), 64)``; only the buckets touched by
    today's appended symbols are recomputed and dynamic-overwritten — a day
    touching 1% of symbols reads ~1% of the fundamental lake (bucket filter
    pushes to the scan) and rewrites ~those buckets, instead of rebuilding
    the whole derived tier.  Falls back to a full rebuild on the first run
    (no derived tables yet) or when ``incremental=False``."""
    from us_equity_datalake_spark.sources.lake import read_table_metadata, write_table_metadata

    fund_long = normalize_fundamental(raw).withColumn(
        "sym_bucket", _sym_bucket(F.col("symbol"), n_buckets)
    )
    # fund_long has up to three consumers (the touched-buckets collect, the
    # append's anti-join probe, the append write) — materialize so the
    # normalize+dedup lineage runs once per day, not once per consumer
    # (ADVICE r5).  materialize_once, NOT a bare persist: the cache manager
    # compiles cached plans without AQE partition coalescing, so a persist
    # materialized the whole normalize chain at full shuffle width on a
    # day-sized batch; this runs it once through the normal AQE path and
    # the consumers read the day-sized blocks (cluster-safe fallback
    # inside the helper — ADVICE r12).
    fund_long = materialize_once(fund_long)
    # Pre-migration guard: a fundamental lake written before bucket
    # partitioning carries no sym_bucket column, and a lake written with a
    # DIFFERENT bucket count (ADVICE r4: pmod(hash,16) rows appended into a
    # pmod(hash,64) layout would silently corrupt the derived tier — the
    # 'touched' filter would prune the wrong partitions).  The bucket count
    # is therefore persisted in the lake's metadata sidecar on every write
    # and validated HERE: any mismatch (including a missing sidecar, which
    # means the layout's modulus is unknowable from the values alone — bucket
    # ids 0..15 are consistent with ANY modulus >= 16) self-heals by
    # rewriting the lake with the requested modulus and forcing a full
    # derived rebuild this run.
    import shutil

    base = lake.fundamental.rstrip("/")
    tmp, old = base + ".__migrate_tmp", base + ".__replaced"
    # Crash recovery for the migrate protocol below (deterministic names so a
    # restarted job can always finish or undo a half-done swap):
    #   - live missing + .__replaced present = crash between the two renames;
    #     restore the original and let the migration re-run from scratch
    #   - live present + .__replaced present = crash before the final cleanup;
    #     the swap completed, drop the retired copy
    #   - a leftover .__migrate_tmp is always safe to discard (never live)
    if not os.path.exists(lake.fundamental) and os.path.exists(old):
        os.rename(old, lake.fundamental)
    elif os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    if _exists(lake.fundamental):
        existing = spark.read.parquet(lake.fundamental)
        meta = read_table_metadata(lake.fundamental) or {}
        if "sym_bucket" not in existing.columns or meta.get("n_sym_buckets") != n_buckets:
            # Migrate via write-aside + two renames (NOT rmtree-then-rename:
            # a crash after the rmtree would lose the whole raw lake).  Every
            # intermediate state is recoverable by the preamble above.
            write_partitioned(
                existing.drop("sym_bucket").withColumn(
                    "sym_bucket", _sym_bucket(F.col("symbol"), n_buckets)
                ),
                tmp,
                partition_by=["sym_bucket"],
            )
            os.rename(lake.fundamental, old)
            os.rename(tmp, lake.fundamental)
            shutil.rmtree(old)
            incremental = False
    # the batch's touched buckets, computed ONCE: they prune both the dedup
    # probe inside the append (key = (symbol, ...) and bucket = f(symbol), so
    # keys outside these partitions cannot collide with the batch — the
    # existing_filter contract in read_check_append) and the derived rebuild.
    # Skipped on a fresh lake (nothing to probe, full rebuild anyway).
    touched: list | None = None
    if _exists(lake.fundamental):
        touched = sorted(
            r.sym_bucket for r in fund_long.select("sym_bucket").distinct().collect()
        )
    appended = read_check_append(
        spark, fund_long, lake.fundamental, keys=["symbol", "concept", "frame", "accn"],
        partition_by=["sym_bucket"],
        existing_filter=F.col("sym_bucket").isin(touched) if touched else None,
    )
    if _exists(lake.fundamental):
        # stamp the layout modulus the lake was (re)written with — the guard
        # above validates against this on every subsequent call
        write_table_metadata(spark, lake.fundamental, {"n_sym_buckets": n_buckets})
    if not _exists(lake.fundamental):
        # empty fetch day on a fresh lake: nothing was ever written — skip the
        # derived rebuild instead of crashing on a missing path
        return {"fundamental_appended": 0, "ttm_rows": 0, "metric_rows": 0}

    do_incremental = (
        incremental and touched is not None and _exists(lake.ttm) and _exists(lake.metrics)
    )
    full = spark.read.parquet(lake.fundamental)
    if do_incremental:
        report_buckets = len(touched)
        full = full.filter(F.col("sym_bucket").isin(touched))  # partition-pruned scan
    else:
        report_buckets = n_buckets

    duration = full.filter(~F.col("is_instant"))
    stock = full.filter(F.col("is_instant")).select("symbol", "as_of_date", "concept", "value")
    ttm = compute_ttm_long(duration).withColumn(
        "sym_bucket", _sym_bucket(F.col("symbol"), n_buckets)
    )
    # ttm has TWO consumers — the lake write and the metrics derivation — and
    # without materialization each re-runs the rolling-window chain over the
    # (pruned) fundamental scan: 2x the heaviest compute of the rebuild at
    # any scale.  materialize_once (same AQE-on-cache rationale as
    # fund_long above) materializes it once for both.
    ttm = materialize_once(ttm)
    metrics = compute_metrics_long(
        ttm.select("symbol", "as_of_date", "concept", "value"), stock
    ).withColumn("sym_bucket", _sym_bucket(F.col("symbol"), n_buckets))
    # The ttm write and the metrics derive+write are INDEPENDENT once ttm is
    # materialized (metrics reads ttm's blocks, both land at different
    # paths): submit them from two driver threads so the metrics plan build
    # + write overlaps the ttm write's tail instead of waiting it out
    # (guide §2.6).  The incremental run replaces only the touched buckets
    # with a per-writer dynamic overwrite, so the two writes share no
    # session state.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    @inheritable_thread_target(spark)
    def _land(df, path):
        # inheritable_thread_target(spark): the worker thread inherits the
        # caller's JVM-thread-local properties (job description/group) and
        # the session's job tags, so these jobs stay attributable (and
        # cancellable by tag)
        if do_incremental:
            overwrite_partition(spark, df, path, partition_by=["sym_bucket"])
        else:
            write_partitioned(df, path, partition_by=["sym_bucket"])

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_land, ttm, lake.ttm),
                pool.submit(_land, metrics, lake.metrics)]
    errs = [e for e in (f.exception() for f in futs) if e is not None]
    if len(errs) > 1:
        # both writes failed: keep the second on the first — as its cause
        # when it has none, else as a note — so neither error is dropped
        if errs[0].__cause__ is None:
            errs[0].__cause__ = errs[1]
        else:
            errs[0].add_note(f"the concurrent write also failed: {errs[1]!r}")
    if errs:
        raise errs[0]

    def _count(path: str) -> int:
        # a zero-row partitioned write leaves no schema-bearing files, so the
        # readback cannot infer a schema — that is simply 0 rows.  Any other
        # read error (a corrupt or missing file) re-raises: a report must
        # not turn a broken table into a plausible row count.
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(path).count()
        except AnalysisException as e:
            if "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            return 0

    return {
        "fundamental_appended": appended,
        "derived_buckets_rebuilt": report_buckets,
        # readback counts are report-only (two extra read jobs); callers that
        # immediately re-read the lake anyway (the oracle-gated round-trip)
        # skip them
        "ttm_rows": _count(lake.ttm) if report_counts else -1,
        "metric_rows": _count(lake.metrics) if report_counts else -1,
    }


def update_security_master(
    spark: SparkSession,
    lake: LakePaths,
    current_universe: DataFrame,
    figi_map: DataFrame,
    *,
    target_date: str,
    grace_period_days: int = 14,
) -> dict:
    """Stage 1b (reference update_no_wrds, security_master.py:1198-1410): apply
    the extend/rebrand/IPO/delist rules against the persisted master using the
    persisted prev-universe state, then re-land both.  First run bootstraps:
    the current universe becomes both the baseline state and (if no master
    exists) the initial one-row-per-symbol master."""
    from us_equity_datalake_spark.equity.security_master import ID_BASE, update_universe as _apply

    state = read_json_state(lake.universe_state + ".master") or {}
    prev_syms, prev_date = state.get("tickers"), state.get("asof")

    if _exists(lake.security_master):
        master = spark.read.parquet(lake.security_master)
    else:
        from pyspark.sql import Window

        today_c = F.lit(target_date).cast("date")
        master = current_universe.select("symbol").withColumn(
            "security_id", F.row_number().over(Window.orderBy("symbol")) + F.lit(ID_BASE)
        ).select(
            F.col("security_id").cast("long"),
            F.lit(None).cast("integer").alias("permno"),
            "symbol",
            F.lit("").alias("company"),
            F.lit(None).cast("string").alias("cik"),
            F.lit(None).cast("string").alias("cusip"),
            today_c.alias("start_date"),
            today_c.alias("end_date"),
        )

    if prev_syms is None:
        updated = master  # bootstrap day: no diff to apply yet
        n_changes = 0
    else:
        prev = local_frame(spark, [(s,) for s in prev_syms], "symbol string")
        updated = _apply(
            master,
            prev,
            current_universe.select("symbol"),
            figi_map,
            today=target_date,
            prev_date=prev_date,
            grace_period_days=grace_period_days,
        )
        # Crash-recovery idempotence: the master parquet (below) and the state
        # JSON land non-atomically; a crash between them replays today's diff
        # against an ALREADY-updated master on restart.  Appended rows are
        # exactly those not in master on (security_id, symbol, start_date) —
        # existing rows only ever change end_date, continuations reuse the id
        # with a new symbol, IPOs get fresh ids.  A replayed continuation is
        # bit-identical (dropped by the anti-join); a replayed IPO re-mints a
        # HIGHER id for a (symbol, start_date) master already holds — drop it.
        keys = ["security_id", "symbol", "start_date"]
        appends = updated.join(master.select(*keys), keys, "left_anti")
        replayed = appends.join(
            master.select("symbol", "start_date"), ["symbol", "start_date"], "left_semi"
        )
        updated = updated.join(replayed.select(*keys), keys, "left_anti")
        # a replayed continuation is bit-identical to the master row _apply
        # passed through, so it appears twice WITHIN updated — (security_id,
        # symbol, start_date) is the master's natural key, dedup on it
        updated = updated.dropDuplicates(keys)
        n_changes = updated.count() - master.count()  # rebrand continuations + IPOs

    # land via overwrite (the master is one logical partition, dimension-sized).
    # localCheckpoint severs lineage from the files being replaced — a plain
    # cache could recompute from the just-deleted parquet on block eviction
    updated = updated.localCheckpoint(eager=True)
    n_rows = updated.count()
    updated.write.mode("overwrite").parquet(lake.security_master)
    # Stamp the export sidecar the way the reference stamps custom parquet
    # metadata on every master export (security_master.py:831-840:
    # crsp_end_date / export_timestamp / row_count) — the staleness check in
    # :func:`load_security_master` short-circuits on it.
    import time as _time

    from us_equity_datalake_spark.sources.lake import write_table_metadata

    write_table_metadata(
        spark,
        lake.security_master,
        {"asof": target_date, "export_timestamp": _time.time(), "row_count": n_rows},
    )
    tickers = sorted(r.symbol for r in current_universe.select("symbol").distinct().collect())
    os.makedirs(os.path.dirname(lake.universe_state), exist_ok=True)
    write_json_state(lake.universe_state + ".master", {"asof": target_date, "tickers": tickers})
    return {"master_rows": n_rows, "master_new_rows": n_changes}


def load_security_master(
    spark: SparkSession,
    lake: LakePaths,
    *,
    target_date: str,
    max_staleness_days: int = 7,
    rebuild=None,
):
    """The reference's S3 fast path (security_master.py:219-247): load the
    persisted master parquet IF its export sidecar says it is fresh enough
    for ``target_date``; otherwise invoke ``rebuild()`` (a callable returning
    the rebuilt DataFrame), land it, re-stamp, and return that.

    Freshness = sidecar exists, carries an ``asof``, and ``target_date`` is
    within ``max_staleness_days`` after it (an asof in the future relative to
    target_date also counts as fresh — the master already covers the date).
    Returns ``(df, "fast" | "rebuilt")``; raises if stale and no ``rebuild``
    was provided (matching the reference's hard failure when neither cache
    nor WRDS is reachable)."""
    import datetime as _dt

    from us_equity_datalake_spark.sources.lake import read_table_metadata, write_table_metadata

    meta = read_table_metadata(lake.security_master)
    if meta and meta.get("asof") and _exists(lake.security_master):
        age = (
            _dt.date.fromisoformat(target_date) - _dt.date.fromisoformat(meta["asof"])
        ).days
        if age <= max_staleness_days:
            return spark.read.parquet(lake.security_master), "fast"
    if rebuild is None:
        raise RuntimeError(
            f"security master at {lake.security_master} is missing or stale "
            f"(sidecar: {meta}) and no rebuild source was provided"
        )
    df = rebuild().localCheckpoint(eager=True)
    n = df.count()
    df.write.mode("overwrite").parquet(lake.security_master)
    import time as _time

    write_table_metadata(
        spark,
        lake.security_master,
        {"asof": target_date, "export_timestamp": _time.time(), "row_count": n},
    )
    return spark.read.parquet(lake.security_master), "rebuilt"


RELEVANT_FORMS = ["10-K", "10-Q", "10-K/A", "10-Q/A", "8-K"]


def recent_filings_window(filings: DataFrame, *, target_date: str, lookback_days: int = 7) -> DataFrame:
    """I2 (app.py:154-206 get_recent_edgar_filings): the late-data re-check —
    keep filings whose filing_date falls inside the trailing ``lookback_days``
    window and whose form type is relevant (10-K/10-Q/amendments/8-K).

    The reference polls EDGAR per CIK; data-plane equivalent here: the ingest
    edge lands the full submissions feed and this filter selects the re-check
    slice.  Rows already processed are deduped downstream by the I4 anti-join
    append, so re-landing the window is idempotent by construction.
    """
    cutoff = F.date_sub(F.lit(target_date).cast("date"), lookback_days)
    return filings.filter(
        (F.col("filing_date") >= cutoff)
        & (F.col("filing_date") <= F.lit(target_date).cast("date"))
        & F.col("filing_type").isin(RELEVANT_FORMS)
    )


def update_late_filings(
    spark: SparkSession,
    lake: LakePaths,
    filings: DataFrame,
    *,
    target_date: str,
    lookback_days: int = 7,
) -> dict:
    """Stage 9 (I2): re-process the trailing filing window.  A filing that
    arrived late (filed days ago, fetched today) flows through the same
    chunk→score→aggregate path; the anti-join append makes the overlap free."""
    window = recent_filings_window(filings, target_date=target_date, lookback_days=lookback_days)
    out = update_sentiment(spark, lake, window)
    return {"late_filings_appended": out["filings_appended"]}


def update_sentiment(spark: SparkSession, lake: LakePaths, filings: DataFrame) -> dict:
    """Stage 8 (N3/N4/A10-A12 + I4): chunk → score (per-executor model
    singleton) → filing-level aggregate → anti-join append on accession."""
    chunks = filings.select(
        "cik", "accession_number", F.explode(chunk_text_udf(F.col("text"))).alias("chunk")
    )
    scored = score_chunks(chunks)
    wide = aggregate_filing_sentiment(scored, filings)
    appended = read_check_append(spark, wide, lake.sentiment, keys=["cik", "accession_number"])
    return {"filings_appended": appended}


def run_daily_update(
    spark: SparkSession,
    lake: LakePaths,
    *,
    target_date: str,
    universe_snapshot: DataFrame | None = None,
    figi_map: DataFrame | None = None,
    ticks_batch: DataFrame | None = None,
    fundamental_raw: DataFrame | None = None,
    filings: DataFrame | None = None,
    filings_feed: DataFrame | None = None,
    lookback_days: int = 7,
    calendar: DataFrame | None = None,
) -> dict:
    """The full §3.1 sequence.  Stages with no input are skipped (the
    reference skips stages the same way on empty fetches)."""
    report: dict = {"target_date": target_date}
    if calendar is not None:
        is_open = calendar.filter(F.col("date") == F.lit(target_date).cast("date")).count() > 0
        report["market_open"] = is_open
        if not is_open:  # app.py:136-145: nothing to do on holidays
            return report
    if universe_snapshot is not None:
        report.update(update_universe(spark, lake, universe_snapshot, target_date=target_date))
        if figi_map is not None:
            # stage 1b: lifecycle rules against the persisted master — uses the
            # FILTERED universe (same common-stock gate as stage 1)
            cur = filter_universe(universe_snapshot).select(F.col("ticker").alias("symbol"))
            report.update(
                update_security_master(spark, lake, cur, figi_map, target_date=target_date)
            )
    if ticks_batch is not None:
        report.update(update_top3000(lake, ticks_batch))
        report.update(update_daily_ticks(spark, lake, ticks_batch))
    if fundamental_raw is not None:
        report.update(update_fundamentals(spark, lake, fundamental_raw))
    if filings is not None:
        report.update(update_sentiment(spark, lake, filings))
    if filings_feed is not None:
        # I2: late-data lookback — re-land the trailing 7-day filing window;
        # overlap with already-processed filings is deduped by the I4 append
        report.update(
            update_late_filings(
                spark, lake, filings_feed, target_date=target_date, lookback_days=lookback_days
            )
        )
    return report
