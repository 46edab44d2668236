"""run_daily_update integration (§3.1, update/app.py:1053-1199): the full
stage sequence over a temp lake, idempotence on re-run, holiday gate."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F

from us_equity_datalake_spark.equity.daily_job import LakePaths, run_daily_update

D = dt.date


@pytest.fixture()
def inputs(spark):
    universe = spark.createDataFrame(
        [
            Row(ticker="AAA", name="Aaa Inc Common Stock", etf="N", test_issue="N"),
            Row(ticker="BBB", name="Bbb ETF Trust Income", etf="Y", test_issue="N"),
            Row(ticker="CCC", name="Ccc Corp Common Stock", etf="N", test_issue="N"),
        ]
    )
    ticks = spark.createDataFrame(
        [
            Row(security_id=1, symbol="AAA", timestamp=D(2024, 6, d), close=10.0 + d, volume=1000)
            for d in range(3, 8)
        ]
        + [Row(security_id=2, symbol="CCC", timestamp=D(2024, 6, 3), close=1.0, volume=10)]
    )

    def dp(concept, frame, value, q, tag="T1", instant=False):
        end = D(2023, 3 * q, 28) if q else D(2023, 12, 31)
        return Row(symbol="AAA", concept=concept, tag=tag, tag_priority=1, value=value,
                   accn=f"acc-{concept}-{frame}", form="10-Q", filed=end + dt.timedelta(days=30),
                   start=D(2023, 1, 1), end=end, frame=frame)

    fundamentals = spark.createDataFrame(
        [dp("rev", f"CY2023Q{q}", 100.0 * q, q) for q in (1, 2, 3)] + [dp("rev", "CY2023", 1000.0, 0)]
    )
    filings = spark.createDataFrame(
        [
            Row(cik="0001", accession_number="acc-1", filing_date=D(2024, 6, 1),
                filing_type="10-K", text="Revenue grew. Litigation risk may be material. " * 40)
        ]
    )
    return universe, ticks, fundamentals, filings


def test_run_daily_update_end_to_end_and_idempotent(spark, tmp_path, inputs):
    universe, ticks, fundamentals, filings = inputs
    lake = LakePaths(str(tmp_path / "lake"))

    r1 = run_daily_update(
        spark, lake, target_date="2024-06-07",
        universe_snapshot=universe, ticks_batch=ticks,
        fundamental_raw=fundamentals, filings=filings,
    )
    assert r1["universe_size"] == 2  # ETF excluded
    assert r1["top_k"] == 1  # only AAA clears the min-adv bar
    assert r1["ticks_landed"] == 6
    # Q4 derived: FY - Q1 - Q2 - Q3 = 1000 - 600 = 400; the derived row keeps
    # the annual frame string and REPLACES the FY row (F2 semantics)
    fund = spark.read.parquet(lake.fundamental)
    q4 = fund.filter(F.col("frame") == "CY2023").collect()
    assert len(q4) == 1 and q4[0].value == 400.0
    assert r1["fundamental_appended"] == 4  # 3 quarters + derived Q4
    assert r1["ttm_rows"] == 1  # exactly-4-quarters window: one complete TTM row
    assert spark.read.parquet(lake.ttm).collect()[0].value == 1000.0  # Q1+Q2+Q3+Q4
    assert r1["filings_appended"] == 1

    # re-run same date, same inputs: appends are no-ops, tables unchanged
    before = sorted(tuple(r) for r in fund.collect())
    r2 = run_daily_update(
        spark, lake, target_date="2024-06-07",
        universe_snapshot=universe, ticks_batch=ticks,
        fundamental_raw=fundamentals, filings=filings,
    )
    assert r2["fundamental_appended"] == 0
    assert r2["filings_appended"] == 0
    assert r2["universe_changes"] == 0
    assert sorted(tuple(r) for r in spark.read.parquet(lake.fundamental).collect()) == before


def test_holiday_gate_skips_everything(spark, tmp_path, inputs):
    universe, ticks, fundamentals, filings = inputs
    lake = LakePaths(str(tmp_path / "lake2"))
    cal = spark.createDataFrame([Row(date=D(2024, 6, 6))])  # target NOT in calendar
    r = run_daily_update(
        spark, lake, target_date="2024-06-07", calendar=cal,
        universe_snapshot=universe, ticks_batch=ticks,
        fundamental_raw=fundamentals, filings=filings,
    )
    assert r == {"target_date": "2024-06-07", "market_open": False}


def test_universe_transition_detected(spark, tmp_path, inputs):
    universe, ticks, fundamentals, filings = inputs
    lake = LakePaths(str(tmp_path / "lake3"))
    run_daily_update(spark, lake, target_date="2024-06-07", universe_snapshot=universe)
    # next day: CCC disappears, DDD appears
    universe2 = spark.createDataFrame(
        [
            Row(ticker="AAA", name="Aaa Inc Common Stock", etf="N", test_issue="N"),
            Row(ticker="DDD", name="Ddd Corp Common Stock", etf="N", test_issue="N"),
        ]
    )
    r = run_daily_update(spark, lake, target_date="2024-06-08", universe_snapshot=universe2)
    assert r["universe_changes"] == 2  # one appeared + one disappeared


def test_late_filing_lookback_idempotent(spark, tmp_path, inputs):
    """I2 (app.py:154-206): a filing filed 3 days ago but fetched today lands
    via the lookback stage; re-running re-lands nothing (anti-join dedup), and
    filings outside the window or with irrelevant forms never land."""
    universe, ticks, fundamentals, filings = inputs
    lake = LakePaths(str(tmp_path / "lake_lb"))

    feed = spark.createDataFrame([
        # filed 3 days before target: inside the 7-day window
        Row(cik="0002", accession_number="late-1", filing_date=D(2024, 6, 4),
            filing_type="10-Q", text="Late but material. Revenue may fluctuate. " * 30),
        # filed 10 days before target: outside the window
        Row(cik="0003", accession_number="old-1", filing_date=D(2024, 5, 28),
            filing_type="10-K", text="Stale filing text. " * 30),
        # inside the window but an irrelevant form type
        Row(cik="0004", accession_number="irr-1", filing_date=D(2024, 6, 6),
            filing_type="S-1", text="IPO prospectus text. " * 30),
    ])

    r1 = run_daily_update(
        spark, lake, target_date="2024-06-07",
        filings=filings, filings_feed=feed,
    )
    assert r1["filings_appended"] == 1       # the day's own filing
    assert r1["late_filings_appended"] == 1  # only late-1 qualifies

    landed = {r.accession_number for r in spark.read.parquet(lake.sentiment).collect()}
    assert landed == {"acc-1", "late-1"}

    # second run: both the daily filing and the lookback window are no-ops
    r2 = run_daily_update(
        spark, lake, target_date="2024-06-07",
        filings=filings, filings_feed=feed,
    )
    assert r2["filings_appended"] == 0
    assert r2["late_filings_appended"] == 0
    assert spark.read.parquet(lake.sentiment).count() == 2


def test_security_master_lifecycle_through_daily_job(spark, tmp_path):
    """Stage 1b end-to-end over three days: bootstrap, then a rebrand
    (AAA -> AAANEW, same FIGI) keeps its security_id while an IPO gets a
    fresh one (reference update_no_wrds through run_daily_update)."""
    lake = LakePaths(str(tmp_path / "lake_sm"))

    def snap(*tickers):
        return spark.createDataFrame(
            [Row(ticker=t, name=f"{t} Corp Common Stock", etf="N", test_issue="N")
             for t in tickers]
        )

    figi = spark.createDataFrame(
        [Row(symbol="AAA", figi="BBG-A"), Row(symbol="AAANEW", figi="BBG-A"),
         Row(symbol="IPOX", figi="BBG-X")],
        "symbol string, figi string",
    )

    # day 1: bootstrap — master created from the filtered universe
    r1 = run_daily_update(spark, lake, target_date="2024-06-07",
                          universe_snapshot=snap("AAA", "BBB"), figi_map=figi)
    assert r1["master_rows"] == 2 and r1["master_new_rows"] == 0
    m1 = {r.symbol: r for r in spark.read.parquet(lake.security_master).collect()}
    aaa_sid = m1["AAA"].security_id

    # day 2: AAA rebrands to AAANEW (same FIGI), IPOX appears fresh
    r2 = run_daily_update(spark, lake, target_date="2024-06-10",
                          universe_snapshot=snap("AAANEW", "BBB", "IPOX"), figi_map=figi)
    assert r2["master_new_rows"] == 2  # continuation row + IPO row
    m2 = {r.symbol: r for r in spark.read.parquet(lake.security_master).collect()}
    assert m2["AAANEW"].security_id == aaa_sid          # FIGI continuity
    assert m2["AAA"].end_date == dt.date(2024, 6, 7)    # frozen at rebrand
    assert m2["BBB"].end_date == dt.date(2024, 6, 10)   # extended
    assert m2["IPOX"].security_id not in {m1[s].security_id for s in m1}

    # day 3: nothing changes — idempotent extend only
    r3 = run_daily_update(spark, lake, target_date="2024-06-11",
                          universe_snapshot=snap("AAANEW", "BBB", "IPOX"), figi_map=figi)
    assert r3["master_new_rows"] == 0
    m3 = {r.symbol: r for r in spark.read.parquet(lake.security_master).collect()}
    assert m3["AAANEW"].end_date == dt.date(2024, 6, 11)


def test_security_master_replay_after_crash_is_idempotent(spark, tmp_path):
    """ADVICE r2: the master parquet and the prev-universe state JSON land
    non-atomically — simulate a crash between them (master updated, state
    stale) and re-run the same day: the replayed diff must not append
    duplicate continuation/IPO rows."""
    import shutil

    lake = LakePaths(str(tmp_path / "lake_crash"))

    def snap(*tickers):
        return spark.createDataFrame(
            [Row(ticker=t, name=f"{t} Corp Common Stock", etf="N", test_issue="N")
             for t in tickers]
        )

    figi = spark.createDataFrame(
        [Row(symbol="AAA", figi="BBG-A"), Row(symbol="AAANEW", figi="BBG-A"),
         Row(symbol="IPOX", figi="BBG-X")],
        "symbol string, figi string",
    )
    state_path = lake.universe_state + ".master"

    run_daily_update(spark, lake, target_date="2024-06-07",
                     universe_snapshot=snap("AAA", "BBB"), figi_map=figi)
    shutil.copy(state_path, state_path + ".day1")

    run_daily_update(spark, lake, target_date="2024-06-10",
                     universe_snapshot=snap("AAANEW", "BBB", "IPOX"), figi_map=figi)
    before = sorted(
        (r.security_id, r.symbol, str(r.start_date), str(r.end_date))
        for r in spark.read.parquet(lake.security_master).collect()
    )

    # crash simulation: master kept its day-2 update, state rolled back to day 1
    shutil.copy(state_path + ".day1", state_path)
    r_replay = run_daily_update(spark, lake, target_date="2024-06-10",
                                universe_snapshot=snap("AAANEW", "BBB", "IPOX"), figi_map=figi)
    after_rows = spark.read.parquet(lake.security_master).collect()
    after = sorted(
        (r.security_id, r.symbol, str(r.start_date), str(r.end_date)) for r in after_rows
    )
    assert r_replay["master_new_rows"] == 0
    assert after == before
    key_pairs = [(r.symbol, r.start_date) for r in after_rows]
    assert len(key_pairs) == len(set(key_pairs))  # no duplicate (symbol, start)


def _fund_raw_rows(symbol, quarters, val=100.0):
    rows = []
    for i, q in enumerate(quarters):
        y, qn = q
        start = dt.date(y, 3 * (qn - 1) + 1, 1)
        end = dt.date(y, 3 * qn, 28)
        rows.append(Row(
            symbol=symbol, concept="rev", tag="Revenues", tag_priority=1,
            value=val + i, accn=f"{symbol}-a{i}", form="10-Q",
            filed=end + dt.timedelta(days=30), start=start, end=end,
            frame=f"CY{y}Q{qn}",
        ))
    return rows


_FUND_SCHEMA = ("symbol string, concept string, tag string, tag_priority int, value double, "
                "accn string, form string, filed date, start date, end date, frame string")


def _fund_days(spark):
    day1 = spark.createDataFrame(
        _fund_raw_rows("AAA", [(2023, 1), (2023, 2), (2023, 3)])
        + _fund_raw_rows("BBB", [(2023, 1), (2023, 2), (2023, 3)], val=200.0),
        _FUND_SCHEMA,
    )
    day2 = spark.createDataFrame(_fund_raw_rows("AAA", [(2023, 4)]), _FUND_SCHEMA)
    return day1, day2


def test_incremental_derived_rebuild_matches_full(spark, tmp_path):
    """Bucket-incremental derived maintenance: a day-2 batch touching one
    symbol rebuilds only that symbol's bucket, and the resulting TTM/metrics
    tables are row-identical to a full rebuild over the same data."""
    from us_equity_datalake_spark.equity.daily_job import update_fundamentals

    day1, day2 = _fund_days(spark)

    inc, full = LakePaths(str(tmp_path / "inc")), LakePaths(str(tmp_path / "full"))
    update_fundamentals(spark, inc, day1, incremental=True)
    r2 = update_fundamentals(spark, inc, day2, incremental=True)
    assert 0 < r2["derived_buckets_rebuilt"] < 64  # only AAA's bucket(s)

    update_fundamentals(spark, full, day1, incremental=False)
    update_fundamentals(spark, full, day2, incremental=False)

    def rows_of(path):
        try:  # a zero-row partitioned table has no schema-bearing files
            return sorted(map(str, spark.read.parquet(path).collect()))
        except Exception:
            return []

    for sub in ("derived/ttm", "derived/metrics"):
        assert rows_of(f"{inc.root}/{sub}") == rows_of(f"{full.root}/{sub}"), sub
    # AAA completed 4 quarters on day 2 -> a TTM row exists
    assert spark.read.parquet(f"{inc.root}/derived/ttm").filter("symbol = 'AAA'").count() == 1


def test_premigration_unpartitioned_lake_self_heals(spark, tmp_path):
    """A fundamental lake written BEFORE bucket partitioning (flat layout, no
    sym_bucket column) must not break the incremental daily job: the job
    rewrites it once in the partitioned layout, forces a full derived rebuild
    that run, and ends up row-identical to a fully-rebuilt lake."""
    import os

    from us_equity_datalake_spark.equity.daily_job import update_fundamentals
    from us_equity_datalake_spark.equity.fundamentals import normalize_fundamental

    day1, day2 = _fund_days(spark)
    legacy, full = LakePaths(str(tmp_path / "legacy")), LakePaths(str(tmp_path / "full"))

    # hand-write the pre-migration layout: flat fundamental lake + flat
    # derived tables (their presence is what routes the job down the
    # incremental path)
    normalize_fundamental(day1).write.parquet(legacy.fundamental)
    for sub in ("derived/ttm", "derived/metrics"):
        normalize_fundamental(day1).limit(1).write.parquet(f"{legacy.root}/{sub}")

    r = update_fundamentals(spark, legacy, day2, incremental=True)
    assert r["derived_buckets_rebuilt"] == 64  # self-heal forces full rebuild

    # lake now partitioned: sym_bucket=NN directories exist
    assert any(d.startswith("sym_bucket=") for d in os.listdir(legacy.fundamental))

    update_fundamentals(spark, full, day1, incremental=False)
    update_fundamentals(spark, full, day2, incremental=False)

    def rows_of(path):
        try:  # a zero-row partitioned table has no schema-bearing files
            return sorted(map(str, spark.read.parquet(path).collect()))
        except Exception:
            return []

    for sub in ("raw/fundamental", "derived/ttm", "derived/metrics"):
        assert rows_of(f"{legacy.root}/{sub}") == rows_of(f"{full.root}/{sub}"), sub

    # and the NEXT day runs incrementally against the healed lake
    day3 = spark.createDataFrame(_fund_raw_rows("BBB", [(2023, 4)], val=200.0), _FUND_SCHEMA)
    r3 = update_fundamentals(spark, legacy, day3, incremental=True)
    assert 0 < r3["derived_buckets_rebuilt"] < 64


def test_bucket_count_mismatch_self_heals(spark, tmp_path):
    """ADVICE r5 (medium): a lake written with one bucket modulus must not
    accept incremental appends at another — pmod(hash,16) rows mixed into a
    pmod(hash,64) layout would prune the wrong 'touched' partitions and
    silently corrupt the derived tier.  The persisted n_sym_buckets sidecar
    triggers a one-time migration + full rebuild instead."""
    import os

    from us_equity_datalake_spark.equity.daily_job import update_fundamentals
    from us_equity_datalake_spark.sources.lake import read_table_metadata

    day1, day2 = _fund_days(spark)
    lk, full = LakePaths(str(tmp_path / "mix")), LakePaths(str(tmp_path / "full64"))

    update_fundamentals(spark, lk, day1, incremental=True, n_buckets=16)
    assert read_table_metadata(lk.fundamental)["n_sym_buckets"] == 16

    # same data, different modulus: must migrate + full-rebuild, not mix
    r = update_fundamentals(spark, lk, day2, incremental=True, n_buckets=64)
    assert r["derived_buckets_rebuilt"] == 64
    assert read_table_metadata(lk.fundamental)["n_sym_buckets"] == 64

    # every stored bucket id is consistent with the new modulus, and the lake
    # is row-identical to one written at 64 buckets from scratch
    got = spark.read.parquet(lk.fundamental)
    assert got.filter("sym_bucket >= 64").count() == 0
    update_fundamentals(spark, full, day1, incremental=False, n_buckets=64)
    update_fundamentals(spark, full, day2, incremental=False, n_buckets=64)

    def rows_of(path):
        try:  # a zero-row partitioned table has no schema-bearing files
            return sorted(map(str, spark.read.parquet(path).collect()))
        except Exception:
            return []

    for sub in ("raw/fundamental", "derived/ttm", "derived/metrics"):
        assert rows_of(f"{lk.root}/{sub}") == rows_of(f"{full.root}/{sub}"), sub

    # next day at the SAME modulus goes back to the incremental path
    day3 = spark.createDataFrame(_fund_raw_rows("BBB", [(2023, 4)], val=200.0), _FUND_SCHEMA)
    r3 = update_fundamentals(spark, lk, day3, incremental=True, n_buckets=64)
    assert 0 < r3["derived_buckets_rebuilt"] < 64


def test_security_master_export_stamps_and_fast_path(spark, tmp_path):
    """VERDICT r4 #8: every master export stamps the metadata sidecar
    (asof / export_timestamp / row_count, reference security_master.py:
    831-840), and load_security_master short-circuits on a fresh sidecar,
    rebuilds on a stale one, and hard-fails when stale with no source
    (reference S3 fast path, security_master.py:219-247)."""
    from us_equity_datalake_spark.equity.daily_job import (
        load_security_master,
        update_security_master,
    )
    from us_equity_datalake_spark.sources.lake import read_table_metadata

    lake = LakePaths(str(tmp_path / "lk"))
    universe = spark.createDataFrame([("AAA",), ("BBB",)], "symbol string")
    figi = spark.createDataFrame([("AAA", "FG1")], "symbol string, figi string")

    r = update_security_master(spark, lake, universe, figi, target_date="2024-03-01")
    meta = read_table_metadata(lake.security_master)
    assert meta["asof"] == "2024-03-01"
    assert meta["row_count"] == r["master_rows"] == 2
    assert meta["export_timestamp"] > 0

    calls = []

    def rebuild():
        calls.append(1)
        return spark.read.parquet(lake.security_master)

    # fresh (within 7 days): fast path, rebuild NOT invoked
    df, how = load_security_master(spark, lake, target_date="2024-03-05", rebuild=rebuild)
    assert how == "fast" and not calls and df.count() == 2

    # stale (beyond 7 days): rebuild invoked, sidecar re-stamped
    df, how = load_security_master(spark, lake, target_date="2024-06-01", rebuild=rebuild)
    assert how == "rebuilt" and calls
    assert read_table_metadata(lake.security_master)["asof"] == "2024-06-01"

    # now fresh again at the later date
    df, how = load_security_master(spark, lake, target_date="2024-06-02", rebuild=rebuild)
    assert how == "fast" and len(calls) == 1

    # stale with no source: hard failure
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        load_security_master(spark, lake, target_date="2025-01-01")


def test_both_failing_derived_writes_surface_both_errors(spark, tmp_path, monkeypatch):
    """The ttm and metrics writes run concurrently; when BOTH fail, the
    raised error carries the second one too instead of dropping it."""
    import traceback

    from us_equity_datalake_spark.equity import daily_job

    lk = LakePaths(str(tmp_path / "lk"))

    def failing_write(df, path, **kw):
        raise RuntimeError(f"write failed: {path}")

    monkeypatch.setattr(daily_job, "write_partitioned", failing_write)
    day1, _ = _fund_days(spark)
    with pytest.raises(RuntimeError) as ei:
        daily_job.update_fundamentals(spark, lk, day1, incremental=False)
    shown = "".join(traceback.format_exception(ei.value))
    assert f"write failed: {lk.ttm}" in shown
    assert f"write failed: {lk.metrics}" in shown


def test_readback_count_raises_on_corrupt_file(spark, tmp_path, monkeypatch):
    """The report-only readback count treats only the no-schema case (a
    zero-row partitioned write) as 0 rows; a corrupt file under the
    readback path raises instead of reporting a plausible 0."""
    import os

    from us_equity_datalake_spark.equity import daily_job

    lk = LakePaths(str(tmp_path / "lk"))
    real_write = daily_job.write_partitioned

    def write_then_corrupt(df, path, **kw):
        real_write(df, path, **kw)
        if path == lk.metrics:
            bad = os.path.join(path, "sym_bucket=0")
            os.makedirs(bad, exist_ok=True)
            with open(os.path.join(bad, "part-corrupt.parquet"), "wb") as f:
                f.write(b"not a parquet file" * 8)

    monkeypatch.setattr(daily_job, "write_partitioned", write_then_corrupt)
    day1, _ = _fund_days(spark)
    with pytest.raises(Exception, match="part-corrupt.parquet"):
        daily_job.update_fundamentals(spark, lk, day1, incremental=False)


def test_concurrent_derived_writes_inherit_job_tags(spark, tmp_path, monkeypatch):
    """The ttm and metrics writes run on pool threads; a job tag the caller
    set on the session is visible inside both, so their jobs stay
    attributable and cancellable by tag."""
    from us_equity_datalake_spark.equity import daily_job

    lk = LakePaths(str(tmp_path / "lk"))
    real_write = daily_job.write_partitioned
    seen = {}

    def recording_write(df, path, **kw):
        seen[path] = set(spark.getTags())
        real_write(df, path, **kw)

    monkeypatch.setattr(daily_job, "write_partitioned", recording_write)
    day1, _ = _fund_days(spark)
    spark.addTag("quantlake-daily")
    try:
        daily_job.update_fundamentals(spark, lk, day1, incremental=False)
    finally:
        spark.removeTag("quantlake-daily")
    assert seen == {lk.ttm: {"quantlake-daily"}, lk.metrics: {"quantlake-daily"}}


def test_no_session_conf_set_by_overwrites_or_streams(spark, tmp_path, monkeypatch):
    """The dynamic overwrite, the incremental derived rebuild and the
    scaled streaming sink never set a conf on the caller's session: a
    session-wide conf is shared by every driver thread.  A child session's
    private conf may be set."""
    from pyspark.sql.conf import RuntimeConfig

    from us_equity_datalake_spark.equity.daily_job import update_fundamentals
    from us_equity_datalake_spark.plans.base import REGISTRY
    from us_equity_datalake_spark.sources.lake import overwrite_partition, write_partitioned
    from us_equity_datalake_spark.sources.registry import DEFAULT_SF_DIR

    day1, day2 = _fund_days(spark)
    lk = LakePaths(str(tmp_path / "lk"))
    update_fundamentals(spark, lk, day1, incremental=True)
    path = str(tmp_path / "ticks")
    ticks = spark.range(20).select(F.col("id"), (F.col("id") % 4).alias("part"))
    write_partitioned(ticks, path, partition_by=["part"])

    real_set, sets = RuntimeConfig.set, []

    def spy(self, key, value):
        sets.append((self, key))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    overwrite_partition(spark, ticks.where("part = 1"), path, partition_by=["part"])
    r = update_fundamentals(spark, lk, day2, incremental=True)
    assert 0 < r["derived_buckets_rebuilt"] < 64  # the incremental branch ran
    sf_tiny = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    REGISTRY["streaming_tumbling_sink"].fn(spark, sf_tiny).collect()
    mine = spark.conf._jconf
    assert [k for c, k in sets if c._jconf == mine] == []
    # only a child session's state-partition count may have been set
    assert {k for _, k in sets} <= {"spark.sql.shuffle.partitions"}
