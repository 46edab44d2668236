"""Concrete per-source adapters over the generic ingest edge.

Round-1 review noted the repo had only the *generic* jdbc/paginated/fan-out
machinery; these are the reference's concrete source shapes, kept
network-free (injectable ``post``/connection callables) so they unit-test in
the sandbox and wire straight into a real cluster:

- CRSP daily-stock-file SQL composition (reference crsp_ticks.py:141-172
  single-day, :413-466 chunked range) with the same split-adjustment
  arithmetic and null/zero guards, plus P10 input validation
  (validate_permno / validate_date_string).
- OpenFIGI batch symbol→shareClassFIGI mapping (reference
  security_master.py:982-1088): 100-jobs-per-request batching (10 without an
  API key), 429/5xx retry with exponential backoff, None for unmapped —
  landed as a broadcastable (symbol, figi) dimension for
  ``equity.security_master.detect_rebrands``.

Spark-first notes: the CRSP query feeds ``spark.read.format('jdbc')`` where
the reference's per-chunk driver loop becomes JDBC partitioned range reads;
OpenFIGI stays a driver-side snapshot fetch (dimension-sized) that lands as a
broadcast DataFrame.
"""

from __future__ import annotations

import datetime as dt
import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from us_equity_datalake_spark.sources.ingest import TokenBucket, retry_with_backoff
from us_equity_datalake_spark.sources.registry import local_frame

# ---------------------------------------------------------------------------
# P10 — input sanitization at the SQL edge (the one place it still matters:
# values interpolated into a JDBC query string)
# ---------------------------------------------------------------------------


def validate_permno(permno: int | str) -> int:
    """PERMNOs are positive integers; anything else is rejected before it can
    reach a SQL string (reference utils/validation.py analog)."""
    try:
        value = int(str(permno))
    except (TypeError, ValueError):
        raise ValueError(f"invalid permno: {permno!r}") from None
    if value <= 0:
        raise ValueError(f"invalid permno: {permno!r}")
    return value


_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def validate_date_string(day: str) -> str:
    """Strict ISO date — both the format and calendar validity."""
    if not _DATE_RE.match(day or ""):
        raise ValueError(f"invalid date: {day!r}")
    dt.date.fromisoformat(day)  # raises on 2024-02-31 etc.
    return day


# ---------------------------------------------------------------------------
# S4 concrete — CRSP dsf daily bars (WRDS Postgres)
# ---------------------------------------------------------------------------

_ADJUSTED_COLS = """permno,
       date,
       openprc / cfacpr AS open,
       askhi / cfacpr AS high,
       bidlo / cfacpr AS low,
       abs(prc) / cfacpr AS close,
       vol * cfacshr AS volume"""

_RAW_COLS = """permno,
       date,
       openprc AS open,
       askhi AS high,
       bidlo AS low,
       abs(prc) AS close,
       vol AS volume"""


def crsp_dsf_query(
    permnos: Sequence[int | str],
    start_day: str,
    end_day: str,
    *,
    adjusted: bool = True,
) -> str:
    """Compose the CRSP dsf range query (crsp_ticks.py:427-466): split-adjusted
    OHLCV via cfacpr/cfacshr with the same guards (prc not null; adjusted mode
    additionally requires non-null, non-zero adjustment factors).

    The reference chunks permnos 200-at-a-time through a driver loop; on Spark
    pass this whole query to ``jdbc_options(partition_column='permno', ...)``
    and let the connector issue parallel range reads instead.
    """
    ids = ",".join(str(validate_permno(p)) for p in permnos)
    if not ids:
        raise ValueError("permnos must be non-empty")
    start, end = validate_date_string(start_day), validate_date_string(end_day)
    cols = _ADJUSTED_COLS if adjusted else _RAW_COLS
    guards = ["prc IS NOT NULL"]
    if adjusted:
        guards += ["cfacpr IS NOT NULL", "cfacpr != 0", "cfacshr IS NOT NULL", "cfacshr != 0"]
    where = " AND ".join(guards)
    return (
        f"SELECT {cols}\n"
        f"FROM crsp.dsf\n"
        f"WHERE permno IN ({ids})\n"
        f"  AND date >= '{start}' AND date <= '{end}'\n"
        f"  AND {where}"
    )


def read_crsp_ticks(
    spark: SparkSession,
    url: str,
    permnos: Sequence[int],
    start_day: str,
    end_day: str,
    *,
    adjusted: bool = True,
    num_partitions: int = 16,
    **jdbc_kwargs,
) -> DataFrame:
    """CRSP range read as partitioned JDBC: the permno key range is split into
    ``num_partitions`` parallel scans — the Spark replacement for the
    reference's 200-permno chunk loop (crsp_ticks.py:413-415)."""
    from us_equity_datalake_spark.sources.ingest import read_jdbc

    permnos = [validate_permno(p) for p in permnos]
    return read_jdbc(
        spark,
        url=url,
        query=crsp_dsf_query(permnos, start_day, end_day, adjusted=adjusted),
        partition_column="permno",
        lower_bound=min(permnos),
        upper_bound=max(permnos) + 1,
        num_partitions=num_partitions,
        **jdbc_kwargs,
    )


# ---------------------------------------------------------------------------
# S7 concrete — OpenFIGI symbol→shareClassFIGI batch mapping
# ---------------------------------------------------------------------------

OPENFIGI_URL = "https://api.openfigi.com/v3/mapping"
OPENFIGI_BATCH_SIZE = 100  # with API key
OPENFIGI_BATCH_SIZE_NO_KEY = 10
OPENFIGI_RATE_WITH_KEY = 25 / 6.0  # 25 req / 6 s
OPENFIGI_RATE_NO_KEY = 25 / 60.0  # 25 req / min
# the failures of a request, retried and then degraded to unmapped: OSError
# covers connection, timeout and the requests/urllib HTTP errors; RuntimeError
# is what an injected ``post`` raises for an HTTP error status.  Anything else
# (a KeyError from a malformed response, a TypeError) is a bug and raises.
OPENFIGI_REQUEST_ERRORS = (OSError, RuntimeError)


def openfigi_batch_payloads(
    tickers: Sequence[str], *, has_api_key: bool = False
) -> list[list[dict]]:
    """Request payloads, one per batch (security_master.py:1030-1035):
    ``[{"idType": "TICKER", "idValue": t, "exchCode": "US"}, ...]``."""
    size = OPENFIGI_BATCH_SIZE if has_api_key else OPENFIGI_BATCH_SIZE_NO_KEY
    return [
        [{"idType": "TICKER", "idValue": t, "exchCode": "US"} for t in tickers[i : i + size]]
        for i in range(0, len(tickers), size)
    ]


def parse_openfigi_batch(batch_tickers: Sequence[str], response_items: list[dict]) -> dict[str, str | None]:
    """Positional response parse (security_master.py:1056-1062): item j maps
    ticker j; first data row's shareClassFIGI, None when unmapped."""
    out: dict[str, str | None] = {}
    for j, ticker in enumerate(batch_tickers):
        item = response_items[j] if j < len(response_items) else {}
        data = item.get("data") or []
        out[ticker] = data[0].get("shareClassFIGI") if data else None
    return out


def fetch_openfigi_mapping(
    tickers: Sequence[str],
    post: Callable[[list[dict]], list[dict]],
    *,
    has_api_key: bool = False,
    limiter: TokenBucket | None = None,
    retries: int = 3,
    sleep=None,
) -> dict[str, str | None]:
    """Driver-side batched lookup with retry (security_master.py:982-1088).

    ``post(payload) -> response_items`` is injectable (real impl: requests.post
    with the API-key header).  A batch that exhausts retries maps its tickers
    to None — the reference's degrade-don't-crash behavior — because a missing
    FIGI only downgrades a rebrand match to IPO+delist, never corrupts."""
    import time as _time

    sleep = sleep or _time.sleep
    if limiter is None:
        limiter = TokenBucket(OPENFIGI_RATE_WITH_KEY if has_api_key else OPENFIGI_RATE_NO_KEY)
    size = OPENFIGI_BATCH_SIZE if has_api_key else OPENFIGI_BATCH_SIZE_NO_KEY
    results: dict[str, str | None] = {}
    payloads = openfigi_batch_payloads(tickers, has_api_key=has_api_key)
    for i, payload in zip(range(0, len(tickers), size), payloads):
        batch = list(tickers[i : i + size])

        def call():
            limiter.acquire()
            return post(payload)

        try:
            items = retry_with_backoff(
                call, retries=retries, retriable=OPENFIGI_REQUEST_ERRORS, sleep=sleep
            )
        except OPENFIGI_REQUEST_ERRORS:
            results.update({t: None for t in batch})
            continue
        results.update(parse_openfigi_batch(batch, items))
    return results


FIGI_SCHEMA = T.StructType(
    [T.StructField("symbol", T.StringType()), T.StructField("figi", T.StringType())]
)


# ---------------------------------------------------------------------------
# S7 concrete — SEC company_tickers.json snapshot (ticker -> CIK map)
# ---------------------------------------------------------------------------

SEC_COMPANY_TICKERS_URL = "https://www.sec.gov/files/company_tickers.json"


def sec_company_tickers_rows(doc: dict) -> list[dict]:
    """Parse the public EDGAR ``company_tickers.json`` document
    (``{"0": {"cik_str": 320193, "ticker": "AAPL", "title": "Apple Inc."},
    ...}``) into the (ticker, cik, title) rows ``update_from_sec`` consumes
    (reference security_master.py:278-351).  CIK is zero-padded to 10 digits —
    the EDGAR canonical form every other SEC endpoint keys on."""
    return [
        {
            "ticker": item["ticker"],
            "cik": f"{int(item['cik_str']):010d}",
            "title": item["title"],
        }
        for item in doc.values()
    ]


SEC_MAP_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("cik", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# S5 concrete — Alpaca multi-symbol bars page (next_page_token pagination)
# ---------------------------------------------------------------------------

BARS_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
    ]
)


def parse_alpaca_bars_page(doc: dict) -> tuple[list[dict], str | None]:
    """One multi-symbol bars page (public Alpaca v2 market-data shape:
    ``{"bars": {sym: [{"t","o","h","l","c","v",...}]}, "next_page_token"}``)
    → flat bar records + the next-page token for ``fetch_paginated``
    (reference alpaca_ticks.py:418-468 drains the same token loop)."""
    records = [
        {
            "symbol": sym,
            "timestamp": bar["t"],
            "open": float(bar["o"]),
            "high": float(bar["h"]),
            "low": float(bar["l"]),
            "close": float(bar["c"]),
            "volume": int(bar["v"]),
        }
        for sym, bars in (doc.get("bars") or {}).items()
        for bar in bars
    ]
    return records, doc.get("next_page_token")


def figi_map_df(spark: SparkSession, mapping: dict[str, str | None]) -> DataFrame:
    """Land the mapping as the broadcastable (symbol, figi) dimension that
    ``detect_rebrands`` consumes; unmapped tickers are dropped (a None FIGI
    can never match anything)."""
    rows = [(t, f) for t, f in sorted(mapping.items()) if f is not None]
    return local_frame(spark, rows, FIGI_SCHEMA)


# ---------------------------------------------------------------------------
# S4 concrete — CRSP historical universe (dsenames)
# ---------------------------------------------------------------------------

CRSP_COMMON_SHARE_CODES = (10, 11)   # shrcd: ordinary common shares
CRSP_MAJOR_EXCHANGES = (1, 2, 3)     # exchcd: NYSE / AMEX / NASDAQ


def crsp_universe_query(year: int) -> str:
    """Historical universe for a year (reference universe/historical.py:14-96):
    every dsenames row whose NAME INTERVAL OVERLAPS the year — mid-year IPOs
    and delistings included, so no survivorship bias — restricted to common
    shares (shrcd 10/11) on the major exchanges (exchcd 1/2/3).  Feed to
    ``spark.read.format('jdbc')``; dedup Ticker keep-first downstream
    (operators.dedup / universe.filter_universe)."""
    y = int(year)
    if not 1900 < y < 2100:
        raise ValueError(f"invalid year: {year!r}")
    shr = ", ".join(str(c) for c in CRSP_COMMON_SHARE_CODES)
    exch = ", ".join(str(c) for c in CRSP_MAJOR_EXCHANGES)
    return (
        "SELECT DISTINCT ticker, tsymbol, permno, comnam, shrcd, exchcd\n"
        "FROM crsp_a_stock.dsenames\n"
        f"WHERE namedt <= '{y}-12-31'\n"
        f"  AND nameendt >= '{y}-01-01'\n"
        "  AND ticker IS NOT NULL\n"
        f"  AND shrcd IN ({shr})\n"
        f"  AND exchcd IN ({exch})"
    )


def universe_rows_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """(tsymbol, comnam, permno) result rows → the (ticker, name, permno)
    frame ``filter_universe``/``update_universe`` consume; ticker uppercased,
    keep-first per ticker like the reference's maintain_order unique."""
    from us_equity_datalake_spark.operators.dedup import dedup_keep_first

    schema = T.StructType(
        [
            T.StructField("ticker", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("permno", T.LongType()),
        ]
    )
    df = local_frame(
        spark,
        [
            {"ticker": (r.get("tsymbol") or "").upper(), "name": r.get("comnam"), "permno": r.get("permno")}
            for r in rows
        ],
        schema,
    )
    return dedup_keep_first(df, keys=["ticker"], order=[F.col("permno").asc_nulls_last()])
