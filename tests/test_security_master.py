"""Security-master construction + PIT/auto-resolve tests (FIXTURES.md §1
required cases; reference master/security_master.py continuity semantics)."""

import datetime as dt

from pyspark.sql import Row

from us_equity_datalake_spark.equity.security_master import (
    build_security_master,
    normalize_symbol,
)
from us_equity_datalake_spark.operators.pit import auto_resolve, pit_lookup

D = dt.date.fromisoformat


NH_SCHEMA = (
    "permno int, symbol string, company string, cik string, cusip string, "
    "start_date date, end_date date"
)


def nh(permno, symbol, company, start, end, cik=None, cusip=None):
    return Row(permno=permno, symbol=symbol, company=company, cik=cik, cusip=cusip,
               start_date=D(start), end_date=D(end))


def _pit(facts, master):
    """J1 on the master columns: exact point-in-time lookup."""
    dim = master.select("security_id", "symbol", "start_date", "end_date")
    return pit_lookup(facts, dim, key="symbol", fact_date="date")


def _auto(queries, master):
    """J2 on the master columns: nearest validity interval of the symbol."""
    dim = master.select("security_id", "symbol", "start_date", "end_date")
    return auto_resolve(queries, dim, key="symbol", query_date="date",
                        tiebreak=["start_date", "security_id"])


def _master(spark):
    rows = [
        # FB -> META: same permno keeps the same security_id (case a)
        nh(10001, "FB", "Facebook Inc", "2012-05-18", "2022-06-08", cik="0001326801"),
        nh(10001, "META", "Meta Platforms", "2022-06-09", "2026-12-31", cik="0001326801"),
        # delisted ABCD, unrelated later sid also normalizing to ABCD (case b)
        nh(20002, "ABCD", "Alpha Beta Corp", "2010-01-01", "2015-06-30"),
        nh(30003, "ABCD", "Abc Dot Com", "2018-01-01", "2026-12-31", cik="0000555555"),
        # two sids sharing symbol XY with disjoint windows (case d)
        nh(40004, "XY", "Xylem Old", "2005-01-01", "2009-12-31"),
        nh(50005, "XY", "Xy New", "2016-01-01", "2026-12-31"),
    ]
    return build_security_master(spark.createDataFrame(rows, NH_SCHEMA))


def test_symbol_change_keeps_sid(spark):
    m = {(r["symbol"]): r for r in _master(spark).collect()}
    assert m["FB"]["security_id"] == m["META"]["security_id"]  # security_master.py:766


def test_different_permnos_get_distinct_ids(spark):
    rows = _master(spark).collect()
    by_permno = {}
    for r in rows:
        by_permno.setdefault(r["permno"], set()).add(r["security_id"])
    assert all(len(v) == 1 for v in by_permno.values())
    assert len({next(iter(v)) for v in by_permno.values()}) == 5
    assert min(r["security_id"] for r in rows) == 1001  # ids start above base 1000


def test_pit_resolution_exact(spark):
    master = _master(spark)
    facts = spark.createDataFrame([Row(symbol="FB", date=D("2021-12-31")),
                                   Row(symbol="META", date=D("2023-01-15"))])
    out = {r["symbol"]: r for r in _pit(facts, master).collect()}
    assert out["FB"]["security_id"] == out["META"]["security_id"]


def test_pit_no_match_outside_interval(spark):
    master = _master(spark)
    facts = spark.createDataFrame([Row(symbol="META", date=D("2021-12-31"))])
    out = _pit(facts, master).collect()
    assert len(out) == 1 and out[0]["security_id"] is None  # left join preserves


def test_auto_resolve_meta_before_rename(spark):
    """get_security_id('META','2021-12-31') auto-resolves to FB's sid
    (crsp_ticks.py:119-124 example — FIXTURES.md invariant 1)."""
    master = _master(spark)
    queries = spark.createDataFrame([Row(symbol="META", date=D("2021-12-31"))])
    out = _auto(queries, master).collect()
    fb_sid = {r["symbol"]: r["security_id"] for r in master.collect()}["FB"]
    assert out[0]["security_id"] == fb_sid
    assert out[0]["temporal_distance"] > 0


def test_auto_resolve_temporal_distance_tiebreak(spark):
    """Probe between XY's two disjoint windows resolves to the closer one."""
    master = _master(spark)
    # 2014-01-01: 4 years after old window end (2009-12-31), 2 years before new start
    queries = spark.createDataFrame([Row(symbol="XY", date=D("2014-01-01"))])
    out = _auto(queries, master).collect()
    new_sid = {r["company"]: r["security_id"] for r in master.collect()}["Xy New"]
    assert out[0]["security_id"] == new_sid


def test_auto_resolve_no_candidates_preserved(spark):
    master = _master(spark)
    queries = spark.createDataFrame([Row(symbol="ZZZZ", date=D("2020-01-01"))])
    out = _auto(queries, master).collect()
    assert len(out) == 1 and out[0]["security_id"] is None


def test_normalize_symbol_formats(spark):
    df = spark.createDataFrame([Row(s="BRK.B"), Row(s="BRK-B"), Row(s="brkb")])
    vals = {r[0] for r in df.select(normalize_symbol(df.s)).collect()}
    assert vals == {"BRKB"}  # CRSP == Nasdaq == SEC format (security_master.py:103)


# ---------------------------------------------------------------------------
# Daily lifecycle update rules (reference update_no_wrds :1198-1410,
# update_from_sec :894-980, _detect_rebrands :1105-1136)
# ---------------------------------------------------------------------------

from us_equity_datalake_spark.equity.security_master import (  # noqa: E402
    detect_rebrands,
    update_from_sec,
    update_universe,
)

MASTER_SCHEMA = (
    "security_id long, permno int, symbol string, company string, cik string, "
    "cusip string, start_date date, end_date date"
)


def _mrow(sid, symbol, company, start, end, permno=None, cik=None, cusip=None):
    return Row(security_id=sid, permno=permno, symbol=symbol, company=company,
               cik=cik, cusip=cusip, start_date=D(start), end_date=D(end))


def _lifecycle_master(spark):
    return spark.createDataFrame(
        [
            _mrow(1001, "FB", "Facebook Inc", "2012-05-18", "2022-06-08",
                  permno=10001, cik="0001326801", cusip="30303M102"),
            _mrow(1002, "AAPL", "Apple Inc", "1980-12-12", "2022-06-08",
                  permno=14593, cik="0000320193"),
            _mrow(1003, "GONE", "Gone Corp", "2015-01-01", "2022-06-08", permno=77777),
        ],
        MASTER_SCHEMA,
    )


def _syms(spark, *symbols):
    return spark.createDataFrame([Row(symbol=s) for s in symbols], "symbol string")


def test_detect_rebrands_figi_match(spark):
    """FB disappeared, META appeared, same shareClassFIGI -> one rebrand pair
    (reference test_detect_rebrands_finds_match)."""
    figi = spark.createDataFrame(
        [Row(symbol="FB", figi="BBG000MM2P62"), Row(symbol="META", figi="BBG000MM2P62"),
         Row(symbol="NEWCO", figi="BBG00XYZ")],
        "symbol string, figi string",
    )
    out = detect_rebrands(_syms(spark, "FB"), _syms(spark, "META", "NEWCO"), figi).collect()
    assert [(r.old_symbol, r.new_symbol, r.figi) for r in out] == [("FB", "META", "BBG000MM2P62")]


def test_detect_rebrands_missing_figi_never_matches(spark):
    figi = spark.createDataFrame([Row(symbol="META", figi="BBG000MM2P62")],
                                 "symbol string, figi string")
    out = detect_rebrands(_syms(spark, "FB"), _syms(spark, "META"), figi).collect()
    assert out == []


def test_update_universe_fb_meta_rebrand_keeps_sid(spark):
    """The FB->META continuity case: old row freezes, new row appended with the
    SAME security_id and FB's permno/cik/cusip (reference update_no_wrds step 7)."""
    master = _lifecycle_master(spark)
    figi = spark.createDataFrame(
        [Row(symbol="FB", figi="BBG000MM2P62"), Row(symbol="META", figi="BBG000MM2P62")],
        "symbol string, figi string",
    )
    out = update_universe(
        master,
        prev_universe=_syms(spark, "FB", "AAPL", "GONE"),
        current_universe=_syms(spark, "META", "AAPL", "GONE"),
        figi_map=figi,
        today="2022-06-09",
        prev_date="2022-06-08",
    )
    rows = {(r.symbol, r.start_date.isoformat()): r for r in out.collect()}
    # old FB row frozen (end_date unchanged)
    assert rows[("FB", "2012-05-18")].end_date == D("2022-06-08")
    # continuation row: same sid, copied identity columns, today-today interval
    meta = rows[("META", "2022-06-09")]
    assert meta.security_id == 1001 and meta.permno == 10001
    assert meta.cik == "0001326801" and meta.cusip == "30303M102"
    assert meta.end_date == D("2022-06-09")
    # AAPL and GONE still active -> extended
    assert rows[("AAPL", "1980-12-12")].end_date == D("2022-06-09")
    assert rows[("GONE", "2015-01-01")].end_date == D("2022-06-09")
    assert out.count() == 4


def test_update_universe_delist_grace_period(spark):
    """Disappeared ticker inside the 14-day grace window keeps extending; past
    the window its end_date freezes (reference update_no_wrds step 6)."""
    master = _lifecycle_master(spark)
    figi = spark.createDataFrame([], "symbol string, figi string")
    prev = _syms(spark, "FB", "AAPL", "GONE")
    curr = _syms(spark, "FB", "AAPL")
    in_grace = update_universe(master, prev, curr, figi,
                               today="2022-06-10", prev_date="2022-06-08")
    got = {r.symbol: r.end_date for r in in_grace.collect()}
    assert got["GONE"] == D("2022-06-10")  # 2 days missing < 14 -> extend
    past_grace = update_universe(master, prev, curr, figi,
                                 today="2022-06-30", prev_date="2022-06-08")
    got = {r.symbol: r.end_date for r in past_grace.collect()}
    assert got["GONE"] == D("2022-06-08")  # frozen
    assert got["FB"] == D("2022-06-30")    # still active -> extended


def test_update_universe_new_ipo_gets_fresh_sid(spark):
    """An appeared ticker with no FIGI match is a true IPO: fresh sequential id
    above the current max, start = end = today (reference step 8)."""
    master = _lifecycle_master(spark)
    figi = spark.createDataFrame([Row(symbol="NEWCO", figi="BBG00NEW")],
                                 "symbol string, figi string")
    out = update_universe(
        master,
        prev_universe=_syms(spark, "FB", "AAPL", "GONE"),
        current_universe=_syms(spark, "FB", "AAPL", "GONE", "NEWCO"),
        figi_map=figi,
        today="2022-06-09",
        prev_date="2022-06-08",
    )
    newco = [r for r in out.collect() if r.symbol == "NEWCO"]
    assert len(newco) == 1
    assert newco[0].security_id == 1004  # max(1003) + 1
    assert newco[0].start_date == newco[0].end_date == D("2022-06-09")


def test_update_universe_unknown_prev_date_leaves_row(spark):
    """No prev_date -> a disappeared ticker cannot be judged; row untouched
    (reference: stats['unchanged'])."""
    master = _lifecycle_master(spark)
    figi = spark.createDataFrame([], "symbol string, figi string")
    out = update_universe(master, _syms(spark, "FB", "AAPL", "GONE"),
                          _syms(spark, "FB", "AAPL"), figi,
                          today="2022-06-30", prev_date=None)
    got = {r.symbol: r.end_date for r in out.collect()}
    assert got["GONE"] == D("2022-06-08")


def test_update_from_sec_extends_and_adds(spark):
    """reference test_update_from_sec_extends_end_dates + _adds_new_securities:
    stale (symbol, cik) rows still in SEC extend to today; unseen SEC pairs
    append with sequential fresh ids."""
    master = _lifecycle_master(spark)
    sec = spark.createDataFrame(
        [Row(ticker="AAPL", cik="0000320193", title="Apple Inc."),
         Row(ticker="ZNEW", cik="0009999999", title="Z New Inc."),
         Row(ticker="ANEW", cik="0008888888", title="A New Inc.")],
        "ticker string, cik string, title string",
    )
    out = update_from_sec(master, sec, today="2022-07-01")
    rows = {r.symbol: r for r in out.collect()}
    assert rows["AAPL"].end_date == D("2022-07-01")      # extended
    assert rows["FB"].end_date == D("2022-06-08")        # cik matches but pair absent -> unchanged
    assert rows["GONE"].end_date == D("2022-06-08")      # not in SEC -> unchanged
    # new ids assigned in ticker order above the max
    assert rows["ANEW"].security_id == 1004 and rows["ZNEW"].security_id == 1005
    assert rows["ANEW"].company == "A New Inc."
    assert rows["ANEW"].start_date == rows["ANEW"].end_date == D("2022-07-01")


def test_symbol_normalizer_edge_cases(spark):
    """SymbolNormalizer semantics (reference security_master.py:30-141):
    verified-same security converts to Nasdaq display format; the delisted
    ABCD whose key collides with a NEW security's ABC.D keeps its original
    spelling; unknown keys pass through uppercased; null day skips
    validation."""
    import datetime as dt

    from pyspark.sql import Row

    from us_equity_datalake_spark.equity.security_master import to_nasdaq_format_batch

    D = dt.date
    master = spark.createDataFrame(
        [
            # BRKB: one continuous security
            Row(symbol="BRKB", security_id=1, start_date=D(2015, 1, 1), end_date=D(2025, 12, 31)),
            # ABCD: delisted sid=1000 (2021-2023), then NEW security sid=2000 (2024+)
            Row(symbol="ABCD", security_id=1000, start_date=D(2021, 1, 1), end_date=D(2023, 6, 30)),
            Row(symbol="ABCD", security_id=2000, start_date=D(2024, 1, 1), end_date=D(2025, 12, 31)),
        ],
        "symbol string, security_id long, start_date date, end_date date",
    )
    nasdaq = spark.createDataFrame(
        [Row(ticker="BRK.B"), Row(ticker="ABC.D")], "ticker string"
    )
    reqs = spark.createDataFrame(
        [
            Row(symbol="BRKB", day=D(2024, 1, 1)),     # same sid at day and latest -> BRK.B
            Row(symbol="brk-b", day=None),             # no day: trust the list -> BRK.B
            Row(symbol="ABCD", day=D(2022, 1, 1)),     # sid 1000 vs 2000 at latest -> keep ABCD
            Row(symbol="ABC.D", day=D(2024, 6, 1)),    # sid 2000 both -> ABC.D
            Row(symbol="ZZZQ", day=D(2024, 1, 1)),     # not in list -> ZZZQ
        ],
        "symbol string, day date",
    )
    out = {r.symbol: r.nasdaq_symbol for r in to_nasdaq_format_batch(master, nasdaq, reqs).collect()}
    assert out["BRKB"] == "BRK.B"
    assert out["brk-b"] == "BRK.B"
    assert out["ABCD"] == "ABCD"     # the documented edge case
    assert out["ABC.D"] == "ABC.D"
    assert out["ZZZQ"] == "ZZZQ"


def test_same_permno_symbol_change_disjoint_ciks_new_id(spark):
    """security_map rule 2 (reference :586-590): same PERMNO, symbol changed
    AND no CIK overlap -> NEW security_id; with a shared CIK -> same id; two
    non-SEC-filer periods (null CIKs) overlap via the null sentinel."""
    rows = [
        # rename with surviving CIK -> same id
        nh(1, "AAA", "Alpha", "2010-01-01", "2014-12-31", cik="0001"),
        nh(1, "AAB", "Alpha Renamed", "2015-01-01", "2020-12-31", cik="0001"),
        # same permno, symbol change, disjoint CIKs -> NEW id
        nh(2, "BBB", "Beta", "2010-01-01", "2014-12-31", cik="0002"),
        nh(2, "BBC", "Gamma Unrelated", "2015-01-01", "2020-12-31", cik="0009"),
        # same permno, symbol change, both periods null-CIK -> overlap -> same id
        nh(3, "CCC", "NonFiler", "2010-01-01", "2014-12-31"),
        nh(3, "CCD", "NonFiler Renamed", "2015-01-01", "2020-12-31"),
    ]
    m = {r.symbol: r.security_id for r in build_security_master(
        spark.createDataFrame(rows, NH_SCHEMA)).collect()}
    assert m["AAA"] == m["AAB"]
    assert m["BBB"] != m["BBC"]
    assert m["CCC"] == m["CCD"]


def test_variant_rollup_spans_gaps(spark):
    """Reference :426-437: the checkpoint groups by (permno, cik, symbol,
    company, cusip) with min(namedt)/max(nameenddt) — a variant active over
    two name periods separated by a gap collapses to ONE row spanning both,
    so an interval lookup inside the gap still resolves."""
    rows = [
        nh(8, "EEE", "Echo Corp", "2010-01-01", "2012-12-31", cik="0008"),
        nh(8, "EEE", "Echo Corp", "2015-01-01", "2020-12-31", cik="0008"),
    ]
    out = build_security_master(spark.createDataFrame(rows, NH_SCHEMA)).collect()
    assert len(out) == 1
    assert out[0].start_date == D("2010-01-01") and out[0].end_date == D("2020-12-31")


def test_master_keeps_per_variant_interval_rows(spark):
    """J7 join-back (reference :594-618): a company rename within the same
    (permno, symbol) keeps BOTH interval rows with their own dates and one
    shared security_id."""
    rows = [
        nh(7, "DDD", "Delta Old Name", "2010-01-01", "2015-12-31", cik="0007"),
        nh(7, "DDD", "Delta New Name", "2016-01-01", "2020-12-31", cik="0007"),
    ]
    out = build_security_master(spark.createDataFrame(rows, NH_SCHEMA)).collect()
    assert len(out) == 2
    assert len({r.security_id for r in out}) == 1
    assert {r.company for r in out} == {"Delta Old Name", "Delta New Name"}
