"""Point-in-time security master: construction + resolution.

Reference: master/security_master.py — the system's central dimension.
Construction (reference :353-638): raw CRSP-style name history → CIK
enrichment → priority dedup → period rollup → change detection → running-ID
assignment.  Resolution (reference :640-806) is ``operators.pit``'s interval
lookup (J1) and fuzzy auto-resolve fallback (J2) over the master's
(security_id, symbol, start_date, end_date) columns.

Scale notes: the master is dimension-sized (~50k rows).  Construction uses
one global ordered window (W5) — fine at dimension scale, documented as such;
resolution always broadcasts the master so fact-side scans never shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from us_equity_datalake_spark.operators.dedup import dedup_keep_first

ID_BASE = 1000


def normalize_symbol(col: Column) -> Column:
    """CRSP/Nasdaq/SEC symbol-format normalization: strip separators, upper
    (reference security_master.py:103, 157-175: BRK.B == BRK-B == BRKB)."""
    return F.upper(F.regexp_replace(col, r"[.\-]", ""))


def build_security_master(name_history: DataFrame) -> DataFrame:
    """Construct the interval dimension from a raw name history.

    ``name_history`` columns: permno (int), symbol, company, cik (nullable),
    cusip (nullable), start_date (date), end_date (date).  Steps
    (security_master.py:404-638):

    1. A6 priority dedup: one row per (permno, symbol, start_date, end_date)
       — most-reliable CIK first (reference :410-423 orders by
       ``cik_validity_days = cikdate2 - cikdate1`` DESC, nulls as -1).  When
       ``name_history`` carries ``cikdate1``/``cikdate2`` columns that exact
       ordering is used; without them the validity span is unmodeled and the
       tiebreak is deterministic lowest-CIK (NOT interval length —
       ``datediff(end_date, start_date)`` is constant within a dedup group
       since end_date is part of the key).
    2. Variant rollup (:426-437 ``groupby(permno, cik, ticker, tsymbol,
       comnam, ncusip, dropna=False).agg(min namedt, max nameenddt)``): one
       gap-spanning row per (permno, symbol, company, cik, cusip) variant —
       a variant active over several name periods collapses to a single
       min-start/max-end row, so interval lookups in gap periods resolve the
       same way the reference's checkpoint does.
    3. CIK-set rollup per (permno, symbol) for change detection
       (``security_map`` step 1, :536-549 — null CIK kept as a sentinel
       member so two non-SEC-filer periods still count as overlapping,
       exactly like Python set intersection over {None}).
    4. W4 change detection over the WHOLE frame ordered (permno, start_date)
       (:567-590): new business iff first row, OR permno changed, OR permno
       same but the SYMBOL changed AND no CIK is shared with the previous
       period — a same-permno symbol change with a surviving CIK keeps its
       identity (rename), one with disjoint CIKs is a new business.
    5. W5: security_id = ID_BASE + running count of new-business flags.
    6. J7 assignment join-back (:594-618): ids join back onto the variant
       rollup rows, one interval row per variant with its gap-spanning dates.
    """
    has_cikdates = "cikdate1" in name_history.columns and "cikdate2" in name_history.columns
    cik_order = (
        F.coalesce(F.datediff("cikdate2", "cikdate1"), F.lit(-1)).desc()
        if has_cikdates
        else F.col("cik").asc_nulls_last()
    )
    deduped = dedup_keep_first(
        name_history,
        keys=["permno", "symbol", "start_date", "end_date"],
        order=[cik_order, F.col("cik").asc_nulls_last()],
    ).select("permno", "symbol", "company", "cik", "cusip", "start_date", "end_date")
    variants = deduped.groupBy("permno", "symbol", "company", "cik", "cusip").agg(
        F.min("start_date").alias("start_date"), F.max("end_date").alias("end_date")
    )
    rolled = (
        deduped.groupBy("permno", "symbol")
        .agg(
            F.min("start_date").alias("start_date"),
            F.max("end_date").alias("end_date"),
            F.array_sort(F.collect_set(F.coalesce(F.col("cik"), F.lit("__NULL_CIK__")))).alias("ciks"),
        )
    )
    # global ordered window — dimension-scale only (documented tradeoff)
    w = Window.orderBy("permno", "start_date")
    flagged = (
        rolled.withColumn("__prev_permno", F.lag("permno").over(w))
        .withColumn("__prev_symbol", F.lag("symbol").over(w))
        .withColumn("__prev_ciks", F.lag("ciks").over(w))
    )
    new_business = (
        F.col("__prev_permno").isNull()
        | (F.col("permno") != F.col("__prev_permno"))
        | (
            (F.col("permno") == F.col("__prev_permno"))
            & (F.col("symbol") != F.col("__prev_symbol"))
            & ~F.arrays_overlap("ciks", "__prev_ciks")
        )
    )
    assigned = flagged.withColumn(
        "security_id",
        F.sum(new_business.cast("long")).over(w.rowsBetween(Window.unboundedPreceding, 0))
        + F.lit(ID_BASE),
    ).select("permno", "symbol", "security_id")
    return variants.join(F.broadcast(assigned), ["permno", "symbol"]).select(
        "security_id",
        "permno",
        "symbol",
        "company",
        "cik",
        "cusip",
        "start_date",
        "end_date",
    )


# ---------------------------------------------------------------------------
# Daily SEC-side lifecycle update (reference security_master.py:894-980
# update_from_sec; :1105-1136 _detect_rebrands; :1198-1410 update_no_wrds).
# All dimension-scale: every join below broadcasts the smaller side and the
# master itself is ~50k rows, so these run as a handful of broadcast joins —
# no large shuffle regardless of how big the fact lake gets.
# ---------------------------------------------------------------------------


def update_from_sec(master: DataFrame, sec_map: DataFrame, *, today: str) -> DataFrame:
    """WRDS-free daily refresh from the SEC ticker file (reference :894-980).

    1. EXTEND: master rows whose (symbol, cik) still appear in ``sec_map`` and
       whose end_date is stale get end_date = today.
    2. ADD: (ticker, cik) pairs in ``sec_map`` but not in the master become new
       rows with sequential security_ids above the current max and
       start = end = today.

    ``sec_map`` columns: ticker, cik, title.  Deterministic: new ids are
    assigned in ticker order (the reference iterates an ordered frame).
    """
    today_c = F.lit(today).cast("date")
    sec_keys = sec_map.select(F.col("ticker").alias("symbol"), "cik").distinct()
    extended = (
        master.join(F.broadcast(sec_keys.withColumn("__hit", F.lit(True))), ["symbol", "cik"], "left")
        .withColumn(
            "end_date",
            F.when(F.col("__hit") & (F.col("end_date") < today_c), today_c).otherwise(F.col("end_date")),
        )
        .drop("__hit")
    )
    max_sid = master.agg(F.coalesce(F.max("security_id"), F.lit(ID_BASE)).alias("m"))
    fresh = (
        sec_map.join(
            F.broadcast(master.select(F.col("symbol").alias("ticker"), "cik").distinct()),
            ["ticker", "cik"],
            "left_anti",
        )
        .withColumn("__rn", F.row_number().over(Window.orderBy("ticker", "cik")))
        .crossJoin(F.broadcast(max_sid))
        .select(
            (F.col("m") + F.col("__rn")).alias("security_id"),
            F.lit(None).cast("integer").alias("permno"),
            F.col("ticker").alias("symbol"),
            F.col("title").alias("company"),
            "cik",
            F.lit(None).cast("string").alias("cusip"),
            today_c.alias("start_date"),
            today_c.alias("end_date"),
        )
    )
    return extended.unionByName(fresh.select(*extended.columns))


def detect_rebrands(disappeared: DataFrame, appeared: DataFrame, figi_map: DataFrame) -> DataFrame:
    """Rebrand pairs by shareClassFIGI identity (reference :1105-1136).

    A ticker that left the universe and a ticker that entered it with the SAME
    shareClassFIGI are one security renaming itself (FB -> META).  Expressed as
    an equi-join old×new on figi; tickers without a FIGI can never match.
    Returns (old_symbol, new_symbol, figi).
    """
    old_f = disappeared.join(F.broadcast(figi_map), "symbol").select(
        F.col("symbol").alias("old_symbol"), "figi"
    )
    new_f = appeared.join(F.broadcast(figi_map), "symbol").select(
        F.col("symbol").alias("new_symbol"), "figi"
    )
    return old_f.join(new_f, "figi").select("old_symbol", "new_symbol", "figi")


def update_universe(
    master: DataFrame,
    prev_universe: DataFrame,
    current_universe: DataFrame,
    figi_map: DataFrame,
    *,
    today: str,
    prev_date: str | None,
    grace_period_days: int = 14,
) -> DataFrame:
    """Daily universe diff with extend / rebrand / IPO / delist rules
    (reference update_no_wrds, security_master.py:1198-1410).

    - EXTEND:  symbol in prev AND current -> end_date = today.
    - REBRAND: symbol disappeared, another appeared with the same
      shareClassFIGI -> freeze the old row's end_date and append a new row
      carrying the SAME security_id (continuity: FB -> META keeps its id) with
      start = end = today and the old row's permno/company/cik/cusip.
    - DELIST:  symbol disappeared, no FIGI match.  Inside the grace window
      (today - prev_date < grace_period_days) keep extending; past it, freeze
      end_date.  Unknown prev_date -> leave the row untouched.
    - NEW IPO: appeared symbol whose FIGI matched no disappeared ticker ->
      new row with a fresh sequential security_id, start = end = today.

    Universe frames carry one ``symbol`` column (already normalized);
    ``figi_map`` is (symbol, figi).  Everything is dimension-sized, so each
    decision is a broadcast hash join and the whole update is one narrow pass
    over the master.
    """
    today_c = F.lit(today).cast("date")
    prev_only = prev_universe.join(current_universe, "symbol", "left_anti")
    curr_only = current_universe.join(prev_universe, "symbol", "left_anti")
    rebrands = detect_rebrands(prev_only, curr_only, figi_map)

    flags = (
        master.join(F.broadcast(current_universe.withColumn("__active", F.lit(True))), "symbol", "left")
        .join(F.broadcast(prev_universe.withColumn("__in_prev", F.lit(True))), "symbol", "left")
        .join(
            F.broadcast(rebrands.select(F.col("old_symbol").alias("symbol"), F.lit(True).alias("__rebrand_old"))),
            "symbol",
            "left",
        )
    )
    still_active = F.col("__active") & F.col("__in_prev")
    disappeared = F.col("__in_prev") & F.col("__active").isNull() & F.col("__rebrand_old").isNull()
    if prev_date is None:
        delist_extend = F.lit(False)
    else:
        delist_extend = disappeared & (
            F.datediff(today_c, F.lit(prev_date).cast("date")) < grace_period_days
        )
    updated = flags.withColumn(
        "end_date",
        F.when(still_active | delist_extend, today_c).otherwise(F.col("end_date")),
    ).select(*master.columns)

    # rebrand continuations: same security_id, new symbol, today-today interval
    old_rows = dedup_keep_first(
        master.join(F.broadcast(rebrands), master["symbol"] == rebrands["old_symbol"]),
        keys=["old_symbol"],
        order=[F.col("start_date").desc(), F.col("security_id").asc()],
    )
    continuations = old_rows.select(
        "security_id",
        "permno",
        F.col("new_symbol").alias("symbol"),
        "company",
        "cik",
        "cusip",
        today_c.alias("start_date"),
        today_c.alias("end_date"),
    )

    # true IPOs: appeared minus rebrand targets; fresh sequential ids
    max_sid = master.agg(F.coalesce(F.max("security_id"), F.lit(ID_BASE)).alias("m"))
    ipos = (
        curr_only.join(
            F.broadcast(rebrands.select(F.col("new_symbol").alias("symbol"))), "symbol", "left_anti"
        )
        .join(F.broadcast(figi_map), "symbol", "left")
        .withColumn("__rn", F.row_number().over(Window.orderBy("symbol")))
        .crossJoin(F.broadcast(max_sid))
        .select(
            (F.col("m") + F.col("__rn")).alias("security_id"),
            F.lit(None).cast("integer").alias("permno"),
            "symbol",
            F.lit("").alias("company"),
            F.lit(None).cast("string").alias("cik"),
            F.lit(None).cast("string").alias("cusip"),
            today_c.alias("start_date"),
            today_c.alias("end_date"),
        )
    )
    out_cols = master.columns
    return (
        updated.unionByName(continuations.select(*out_cols)).unionByName(ipos.select(*out_cols))
    )


CRSP_LATEST_DATE = "2024-12-31"  # reference SymbolNormalizer.CRSP_LATEST_DATE


def to_nasdaq_format_batch(
    master: DataFrame,
    nasdaq_tickers: DataFrame,
    requests: DataFrame,
    *,
    symbol_col: str = "symbol",
    day_col: str = "day",
    crsp_latest: str = CRSP_LATEST_DATE,
) -> DataFrame:
    """Vectorized SymbolNormalizer.to_nasdaq_format (reference
    security_master.py:30-141): CRSP→Nasdaq display format with security-id
    verification so a delisted ABCD never converts to a NEW security's
    ABC.D spelling.

    Per request (symbol, day?):
    1. crsp_key = separators stripped, uppercased.
    2. key not in the current Nasdaq list → keep ``upper(symbol)`` (delisted).
    3. in the list but day is null → Nasdaq format (no validation possible).
    4. else verify: security_id at ``day`` must equal security_id at
       ``crsp_latest`` (both strict interval-containment lookups); equal →
       Nasdaq format, different or unresolvable → keep ``upper(symbol)``.

    ``nasdaq_tickers``: one column ``ticker`` in display format (current
    list — a dimension, broadcast).  ``master``: standard interval schema.
    One broadcast join per lookup; the request table never shuffles.
    """
    # per-row request id: the groupBy in sid_at must not collapse two
    # identical (symbol, day) requests into one output row — the reference
    # normalizer returns one result per call.  The id is internal (dropped
    # from the output) so each group is exactly one input row and the result
    # set is invariant to the actual id values.
    req = requests.withColumn("__req_id", F.monotonically_increasing_id()).withColumn(
        "__key", normalize_symbol(F.col(symbol_col))
    )
    nd = nasdaq_tickers.select(
        normalize_symbol(F.col("ticker")).alias("__key"), F.col("ticker").alias("__nasdaq")
    )
    # the reference dict keeps the LAST ticker per key; the list is deduped
    # upstream, so any deterministic pick is equivalent — use max
    nd = nd.groupBy("__key").agg(F.max("__nasdaq").alias("__nasdaq"))

    m = master.select(
        normalize_symbol(F.col("symbol")).alias("__m_key"),
        F.col("security_id").alias("__sid"),
        F.col("start_date").alias("__start"),
        F.col("end_date").alias("__end"),
    )

    def sid_at(df: DataFrame, day: Column, out: str) -> DataFrame:
        hit = df.join(
            F.broadcast(m),
            (F.col("__key") == F.col("__m_key")) & day.between(F.col("__start"), F.col("__end")),
            "left",
        )
        # strict lookup: deterministic min sid when intervals overlap
        return hit.groupBy(*df.columns).agg(F.min("__sid").alias(out))

    with_sid = sid_at(req.join(F.broadcast(nd), "__key", "left"), F.col(day_col), "__sid_orig")
    with_both = sid_at(with_sid, F.lit(crsp_latest).cast("date"), "__sid_latest")

    normalized = (
        F.when(F.col("__nasdaq").isNull(), F.upper(F.col(symbol_col)))
        .when(F.col(day_col).isNull(), F.col("__nasdaq"))
        .when(
            F.col("__sid_orig").isNotNull()
            & F.col("__sid_latest").isNotNull()
            & (F.col("__sid_orig") == F.col("__sid_latest")),
            F.col("__nasdaq"),
        )
        .otherwise(F.upper(F.col(symbol_col)))
    )
    return with_both.select(
        *requests.columns, normalized.alias("nasdaq_symbol")
    )
