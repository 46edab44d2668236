"""Ingest-edge connectors (§2.1 S4-S12, §2.13): token bucket, retry/backoff,
pagination, mapInPandas fan-out, companyfacts JSON normalization, pipe-
delimited read, existence probe, JSON state."""

import json

import pytest
from pyspark.sql import functions as F, types as T

from us_equity_datalake_spark.sources import ingest


# ---------------------------------------------------------------------------
# TokenBucket / retry
# ---------------------------------------------------------------------------


def test_token_bucket_blocks_until_refill():
    clock = {"t": 0.0}
    sleeps = []

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    tb = ingest.TokenBucket(rate=2.0, capacity=2, clock=lambda: clock["t"], sleep=fake_sleep)
    tb.acquire()
    tb.acquire()  # drains capacity
    tb.acquire()  # must wait ~0.5s for one token at 2/s
    assert sleeps and abs(sum(sleeps) - 0.5) < 1e-9


def test_token_bucket_respects_capacity():
    clock = {"t": 0.0}
    tb = ingest.TokenBucket(rate=10.0, capacity=3, clock=lambda: clock["t"], sleep=lambda s: None)
    clock["t"] += 100  # long idle: tokens cap at capacity, not rate*idle
    tb._refill()
    assert tb.tokens == 3.0


def test_retry_with_backoff_retries_then_succeeds():
    calls = {"n": 0}
    delays = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("transient")
        return "ok"

    assert ingest.retry_with_backoff(flaky, retries=3, base_delay=0.1, sleep=delays.append) == "ok"
    assert calls["n"] == 3
    assert delays == [0.1, 0.2]


def test_retry_with_backoff_exhausts():
    def always_fail():
        raise ValueError("permanent")

    with pytest.raises(ValueError, match="permanent"):
        ingest.retry_with_backoff(always_fail, retries=2, base_delay=0.0, sleep=lambda s: None)


# ---------------------------------------------------------------------------
# S5 — pagination
# ---------------------------------------------------------------------------


def test_fetch_paginated_drains_pages():
    pages = {None: ([{"v": 1}, {"v": 2}], "p2"), "p2": ([{"v": 3}], "p3"), "p3": ([], None)}
    got = list(ingest.fetch_paginated(lambda tok: pages[tok]))
    assert [r["v"] for r in got] == [1, 2, 3]


def test_fetch_paginated_guards_nontermination():
    with pytest.raises(RuntimeError):
        list(ingest.fetch_paginated(lambda tok: ([], "again"), max_pages=5))


# ---------------------------------------------------------------------------
# S4 — JDBC options
# ---------------------------------------------------------------------------


def test_jdbc_options_partitioned():
    opts = ingest.jdbc_options(
        "jdbc:postgresql://h/db",
        "SELECT * FROM crsp.dsf",
        partition_column="permno",
        lower_bound=1000,
        upper_bound=99999,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "permno"
    assert opts["numPartitions"] == "16"
    with pytest.raises(ValueError):
        ingest.jdbc_options("u", "q", partition_column="permno")


# ---------------------------------------------------------------------------
# S5 distributed — mapInPandas fan-out
# ---------------------------------------------------------------------------


def test_fanout_fetch(spark):
    keys = spark.createDataFrame([("AAPL",), ("MSFT",), ("EMPTY",)], ["key"])
    out_schema = T.StructType(
        [T.StructField("d", T.StringType()), T.StructField("px", T.DoubleType())]
    )

    def fetch(sym):
        if sym == "EMPTY":
            return []
        return [{"d": "2024-01-02", "px": float(len(sym))}, {"d": "2024-01-03", "px": 1.5}]

    rows = ingest.fanout_fetch(keys, fetch, out_schema).collect()
    assert len(rows) == 4
    by_key = {(r.key, r.d): r.px for r in rows}
    assert by_key[("AAPL", "2024-01-02")] == 4.0
    assert by_key[("MSFT", "2024-01-03")] == 1.5


# ---------------------------------------------------------------------------
# S6 — companyfacts JSON normalization
# ---------------------------------------------------------------------------


def _facts_doc():
    dp = {"end": "2024-03-31", "val": 100.0, "accn": "a1", "fy": 2024, "fp": "Q1",
          "form": "10-Q", "filed": "2024-05-01", "frame": "CY2024Q1"}
    return {
        "cik": 320193,
        "facts": {
            "us-gaap": {
                "Revenues": {
                    "label": "Revenues",
                    "units": {
                        "EUR": [dict(dp, val=90.0)],  # lower priority than USD
                        "USD": [dp, dict(dp, end="2024-06-30", val=110.0, frame="CY2024Q2")],
                    },
                },
                "SharesOutstanding": {
                    "label": "Shares",
                    "units": {"shares": [dict(dp, val=5.0)]},
                },
            }
        },
    }


def test_normalize_companyfacts_unit_priority(spark):
    docs = spark.createDataFrame([(json.dumps(_facts_doc()),)], ["json"])
    out = ingest.normalize_companyfacts(docs)
    rows = out.collect()
    rev = [r for r in rows if r.tag == "Revenues"]
    assert {r.unit for r in rev} == {"USD"}  # USD wins over EUR
    assert sorted(r.val for r in rev) == [100.0, 110.0]
    sh = [r for r in rows if r.tag == "SharesOutstanding"]
    assert len(sh) == 1 and sh[0].unit == "shares" and sh[0].val == 5.0
    assert rev[0].filed is not None and str(rev[0].cik) == "320193"


# ---------------------------------------------------------------------------
# S8 / S9 / S12 / S11
# ---------------------------------------------------------------------------


def test_read_pipe_delimited(spark, tmp_path):
    p = tmp_path / "nasdaqtraded.txt"
    p.write_text("Nasdaq Traded|Symbol|Security Name\nY|AAPL|Apple Inc.\nY|MSFT|Microsoft\n")
    df = ingest.read_pipe_delimited(spark, str(p))
    assert df.count() == 2
    assert df.columns[1] == "Symbol"


def test_read_fulltext(spark, tmp_path):
    (tmp_path / "f1.txt").write_text("hello filing one")
    df = ingest.read_fulltext(spark, str(tmp_path / "f1.txt"))
    row = df.collect()[0]
    assert row.text == "hello filing one" and row.src.endswith("f1.txt")


def test_filter_unwritten(spark, tmp_path):
    target = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    # first write: nothing exists -> everything passes
    assert ingest.filter_unwritten(spark, batch, target, keys=["k"]).count() == 3
    batch.filter(F.col("k") < 3).write.parquet(target)
    fresh = ingest.filter_unwritten(spark, batch, target, keys=["k"]).collect()
    assert [r.k for r in fresh] == [3]


def test_json_state_roundtrip(tmp_path):
    p = str(tmp_path / "state.json")
    assert ingest.read_json_state(p) is None
    ingest.write_json_state(p, {"universe": ["AAPL"], "asof": "2024-01-02"})
    assert ingest.read_json_state(p)["universe"] == ["AAPL"]


# ---------------------------------------------------------------------------
# Concrete adapters (sources/adapters.py): CRSP SQL composition + OpenFIGI
# ---------------------------------------------------------------------------

from us_equity_datalake_spark.sources.adapters import (  # noqa: E402
    crsp_dsf_query,
    fetch_openfigi_mapping,
    figi_map_df,
    openfigi_batch_payloads,
    parse_openfigi_batch,
    validate_date_string,
    validate_permno,
)


def test_validate_permno_and_date():
    import pytest

    assert validate_permno("14593") == 14593
    for bad in ["x", "-1", "1; DROP TABLE", None]:
        with pytest.raises(ValueError):
            validate_permno(bad)
    assert validate_date_string("2024-06-07") == "2024-06-07"
    for bad in ["2024-6-7", "2024-02-31", "'; --", ""]:
        with pytest.raises(ValueError):
            validate_date_string(bad)


def test_crsp_dsf_query_adjusted_shape():
    """crsp_ticks.py:427-466 parity: cfac-adjusted OHLCV with null/zero guards."""
    q = crsp_dsf_query([14593, 10001], "2024-01-02", "2024-01-31")
    assert "openprc / cfacpr AS open" in q and "vol * cfacshr AS volume" in q
    assert "permno IN (14593,10001)" in q
    assert "cfacpr != 0" in q and "cfacshr IS NOT NULL" in q
    raw = crsp_dsf_query([14593], "2024-01-02", "2024-01-31", adjusted=False)
    assert "cfacpr" not in raw and "openprc AS open" in raw


def test_openfigi_batching_and_parse():
    tickers = [f"T{i}" for i in range(25)]
    batches = openfigi_batch_payloads(tickers)  # no key -> 10 jobs/request
    assert [len(b) for b in batches] == [10, 10, 5]
    assert batches[0][0] == {"idType": "TICKER", "idValue": "T0", "exchCode": "US"}
    parsed = parse_openfigi_batch(
        ["FB", "ZZZ"],
        [{"data": [{"shareClassFIGI": "BBG000MM2P62"}]}, {"warning": "no match"}],
    )
    assert parsed == {"FB": "BBG000MM2P62", "ZZZ": None}


def test_fetch_openfigi_mapping_retry_and_degrade():
    """429/5xx-style failures retry with backoff; an exhausted batch degrades
    to None (reference security_master.py:1046-1076), never raises."""
    calls = {"n": 0}

    def flaky_post(payload):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("HTTP 429")
        return [{"data": [{"shareClassFIGI": f"FIGI-{j['idValue']}"}]} for j in payload]

    bucket = _instant_bucket(rate=1e9)
    out = fetch_openfigi_mapping(["AA", "BB"], flaky_post, limiter=bucket, sleep=lambda s: None)
    assert out == {"AA": "FIGI-AA", "BB": "FIGI-BB"} and calls["n"] == 2

    def always_down(payload):
        raise RuntimeError("HTTP 503")

    out = fetch_openfigi_mapping(["CC"], always_down, limiter=bucket, sleep=lambda s: None)
    assert out == {"CC": None}


def _instant_bucket(rate):
    from us_equity_datalake_spark.sources.ingest import TokenBucket

    return TokenBucket(rate, capacity=10**9)


def test_figi_map_df_drops_unmapped(spark):
    df = figi_map_df(spark, {"FB": "BBG000MM2P62", "GONE": None})
    rows = df.collect()
    assert [(r.symbol, r.figi) for r in rows] == [("FB", "BBG000MM2P62")]


def test_fetch_openfigi_mapping_raises_on_a_response_bug():
    """Only request failures degrade a batch to unmapped: a malformed
    response (here a KeyError inside ``post``) is a bug, raised at once
    without retries instead of mapping the whole batch to None."""
    calls = {"n": 0}

    def malformed(payload):
        calls["n"] += 1
        return {"items": []}["data"]

    bucket = _instant_bucket(rate=1e9)
    with pytest.raises(KeyError, match="data"):
        fetch_openfigi_mapping(["AA", "BB"], malformed, limiter=bucket, sleep=lambda s: None)
    assert calls["n"] == 1

    def refused(payload):
        raise ConnectionRefusedError("openfigi unreachable")

    out = fetch_openfigi_mapping(["CC"], refused, limiter=bucket, sleep=lambda s: None)
    assert out == {"CC": None}
