"""Oracle-gated lake write-path round-trip (SURVEY.md §2.12 I3/I4/I5).

The write patterns in ``sources.lake`` (idempotent dynamic-partition
overwrite, read-check-append, compaction) were pytest-only in round 1; this
query drives all three against a scratch table and reads the result back, so
the driver's DuckDB gate grades the WRITE path too: if any step dropped,
duplicated, or corrupted rows, the readback aggregate diverges from the
oracle computed directly on the source table.

Round-trip (reference update/app.py:296-445 idempotent hot-partition rewrite,
:877-958 dedup append, :447-607 Jan-1 consolidation):

1. I3 overwrite_partition with orders(year<cut) — run TWICE (idempotency: the
   second dynamic overwrite must be a no-op on the readback).
2. I4 read_check_append with an OVERLAPPING slice — only fresh keys land.
3. I5 compact_partition on one year — content must be byte-identical.
4. Read back, aggregate per year: count + exact decimal sum of o_totalprice.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from us_equity_datalake_spark.functions.safe_math import dec_sum, dec_sum_sql
from us_equity_datalake_spark.operators._cache import materialize_once
from us_equity_datalake_spark.sources import lake
from us_equity_datalake_spark.sources.registry import load_table, local_frame
from .base import collect_batched, register, scratch_dir

_CUT_A = 30000  # initial overwrite slice: o_orderkey < _CUT_A
_CUT_B = 60000  # append slice: o_orderkey < _CUT_B (overlaps [0, _CUT_A))


@register(
    "lake_roundtrip_report",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
           COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice')} AS total_price
    FROM orders WHERE o_orderkey < {_CUT_B}
    GROUP BY year(o_orderdate)
    """,
    doc="I3+I4+I5 round-trip (update/app.py:296-445, 877-958, 447-607): "
    "idempotent dynamic-partition overwrite (run twice), anti-join dedup "
    "append of an overlapping slice, small-file compaction of one year "
    "partition — then a readback aggregate the oracle computes straight from "
    "the source table.  Any write-path row loss/dup/corruption breaks the "
    "hash match.",
)
def lake_roundtrip_q(spark, sf_dir):
    path = scratch_dir("roundtrip", sf_dir)

    orders = load_table(spark, "orders", sf_dir).withColumn(
        "year", F.year("o_orderdate")
    )
    base = orders.filter(F.col("o_orderkey") < _CUT_A)

    # I3: idempotent hot-partition overwrite — twice on purpose
    lake.overwrite_partition(spark, base, path, partition_by=["year"])
    lake.overwrite_partition(spark, base, path, partition_by=["year"])

    # I4: overlapping append — only keys >= _CUT_A are fresh; the upstream is
    # a bare scan+filter, so recomputing it beats caching it (cache_fresh doc)
    overlap = orders.filter(F.col("o_orderkey") < _CUT_B)
    lake.read_check_append(
        spark, overlap, path, keys=["o_orderkey"], partition_by=["year"], cache_fresh=False
    )

    # I5: compact the smallest year partition into one file
    some_year = base.agg(F.min("year")).collect()[0][0]
    lake.compact_partition(
        spark, path, partition_by=["year"], predicate=f"year = {some_year}", target_files=1
    )

    readback = spark.read.parquet(path)
    report = readback.groupBy(F.col("year").cast("long").alias("year")).agg(
        F.count("*").alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("total_price"),
    )
    # Materialize the (few-rows) report so the scratch dir can be removed
    # before returning — the caller collects a local relation, not a plan
    # that still reads the deleted path.
    rows = report.collect()
    out = local_frame(spark, rows, schema=report.schema)
    shutil.rmtree(path, ignore_errors=True)
    return out


@register(
    "bucketed_smj_rollup",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {dec_sum_sql('o_totalprice')} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="§2.14 bucketed co-located SMJ (scale toolkit): write orders and "
    "customer bucketed 8x on custkey (write_bucketed pays the one shuffle "
    "every later join would repeat), read back through the catalog, join "
    "exchange-free, and roll up per market segment.  The oracle computes the "
    "same rollup straight from the source tables, so any bucketing-layout "
    "row loss/dup breaks the hash; the exchange-free plan property itself is "
    "asserted in tests/test_skew_bucketing.py.",
)
def bucketed_smj_q(spark, sf_dir):
    from us_equity_datalake_spark.operators.skew import write_bucketed

    root = scratch_dir("bsmj", sf_dir)
    tag = os.path.basename(root).removeprefix("quantlake_bsmj_")
    t_orders, t_cust = f"bsmj_orders_{tag}", f"bsmj_customer_{tag}"

    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    write_bucketed(
        orders, table=t_orders, path=os.path.join(root, "orders"),
        buckets=8, bucket_cols=["o_custkey"], sort_cols=["o_custkey"],
    )
    write_bucketed(
        cust, table=t_cust, path=os.path.join(root, "customer"),
        buckets=8, bucket_cols=["c_custkey"], sort_cols=["c_custkey"],
    )
    try:
        joined = spark.table(t_orders).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        report = joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        rows = report.collect()
        out = local_frame(spark, rows, schema=report.schema)
    finally:
        for t in (t_orders, t_cust):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Incremental derived maintenance (equity/daily_job.py:update_fundamentals):
# the bucket-pruned TTM rebuild was pytest-only (bit-equal-to-full-rebuild);
# this query drives a two-day incremental run end to end and lets the DuckDB
# oracle grade the FINAL lake contents against a direct full recompute.
# ---------------------------------------------------------------------------

_IDM_N = 40  # symbols (customers) in the fixture


@register(
    "incremental_derived_report",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey AS k, c_name AS sym FROM customer WHERE c_custkey < {_IDM_N}
    ),
    day1 AS (
      SELECT sym AS symbol, 'rev' AS concept,
             CAST(k * 10 + qn AS DOUBLE) AS value,
             make_date(2023, qn * 3, 28) + 30 AS filed
      FROM c CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS qn)
    ),
    -- day 2: a fresh 2024Q1 row for every 4th symbol (the resent 2023Q4
    -- duplicates are dropped by the append's key anti-join, so the CORRECT
    -- final lake contains exactly day1 + these rows)
    day2 AS (
      SELECT sym AS symbol, 'rev' AS concept,
             CAST(k * 10 + 5 AS DOUBLE) AS value,
             make_date(2024, 3, 28) + 30 AS filed
      FROM c WHERE k % 4 = 0
    ),
    fund AS (SELECT * FROM day1 UNION ALL SELECT * FROM day2),
    ttm AS (
      SELECT symbol, filed AS as_of_date,
             SUM(value) OVER w AS value,
             COUNT(*) OVER w AS n
      FROM fund
      WINDOW w AS (PARTITION BY symbol, concept ORDER BY filed
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, 'ttm_rev' AS metric, as_of_date, value FROM ttm WHERE n = 4
    UNION ALL
    SELECT symbol, 'n_fund' AS metric, CAST(NULL AS DATE) AS as_of_date,
           CAST(COUNT(*) AS DOUBLE) AS value
    FROM fund GROUP BY symbol
    """,
    doc="Incremental derived maintenance (update_fundamentals, "
    "equity/daily_job.py): day 1 lands 4 quarters for every symbol (full "
    "rebuild), day 2 appends 2024Q1 for every 4th symbol plus a RESENT "
    "2023Q4 duplicate — the bucket-pruned incremental path must dedup the "
    "resend, rebuild only the touched sym_bucket partitions (asserted < 64 "
    "in-code; the bucket hash is engine-internal so the oracle grades "
    "contents, not layout), and leave a TTM/fundamental lake identical to a "
    "full recompute.  Every fixture value is an exact integer double, so the "
    "4-term window sums hash identically cross-engine.",
)
def incremental_derived_q(spark, sf_dir):
    from us_equity_datalake_spark.equity.daily_job import LakePaths, update_fundamentals

    root = scratch_dir("incderiv", sf_dir)
    lp = LakePaths(root)

    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < _IDM_N).select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("sym")
    )

    def raw_quarter(df, year, qn, vofs):
        return df.select(
            F.col("sym").alias("symbol"),
            F.lit("rev").alias("concept"),
            F.lit("Revenues").alias("tag"),
            F.lit(1).alias("tag_priority"),
            (F.col("k") * 10 + vofs).cast("double").alias("value"),
            F.concat(F.col("sym"), F.lit(f"-a{vofs}")).alias("accn"),
            F.lit("10-Q").alias("form"),
            F.date_add(F.make_date(F.lit(year), F.lit(qn * 3), F.lit(28)), 30).alias("filed"),
            F.make_date(F.lit(year), F.lit((qn - 1) * 3 + 1), F.lit(1)).alias("start"),
            F.make_date(F.lit(year), F.lit(qn * 3), F.lit(28)).alias("end"),
            F.lit(f"CY{year}Q{qn}").alias("frame"),
        )

    day1 = None
    for qn in (1, 2, 3, 4):
        part = raw_quarter(cust, 2023, qn, qn)
        day1 = part if day1 is None else day1.unionByName(part)
    touched = cust.filter(F.col("k") % 4 == 0)
    day2 = raw_quarter(touched, 2024, 1, 5).unionByName(
        raw_quarter(touched, 2023, 4, 4)  # resend: same accn/frame -> must dedup
    )

    try:
        # 16 buckets for the 40-symbol fixture: day 2 touches 10 symbols, so
        # the incremental path provably rebuilds < 16 (it cannot touch more
        # buckets than symbols) while the per-run partition-dir count stays
        # proportionate to the fixture (the production default is 64 — at
        # this fixture size 64 buckets spent ~all its wall clock creating
        # near-empty partition directories, 11.4 s/run in BENCH r4-pre)
        update_fundamentals(spark, lp, day1, incremental=True, n_buckets=16, report_counts=False)
        r2 = update_fundamentals(spark, lp, day2, incremental=True, n_buckets=16, report_counts=False)
        # layout self-check (engine-internal, not oracle-visible): day 2 must
        # NOT have rebuilt the whole derived tier
        assert 0 < r2["derived_buckets_rebuilt"] < 16, r2

        ttm = spark.read.parquet(lp.ttm)
        part1 = ttm.select(
            "symbol", F.lit("ttm_rev").alias("metric"), "as_of_date", "value"
        )
        fund = spark.read.parquet(lp.fundamental)
        part2 = fund.groupBy("symbol").agg(F.count("*").cast("double").alias("value")).select(
            "symbol",
            F.lit("n_fund").alias("metric"),
            F.lit(None).cast("date").alias("as_of_date"),
            "value",
        )
        report = part1.unionByName(part2)
        rows = report.collect()
        out = local_frame(spark, rows, schema=report.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# S8 round-trip: pipe-delimited symbol-directory file (Nasdaq FTP analog).
# The file is BUILT driver-side (as the reference's FTP fetch lands it,
# universe/current.py:91-177 — header row, '|' fields, File-Creation-Time
# footer), read back through the REAL read_pipe_delimited operator, and the
# footer-drop + ETF/Test-Issue exclusion predicates applied; the oracle
# derives the surviving directory rows straight from customer.
# ---------------------------------------------------------------------------


@register(
    "pipe_directory_roundtrip",
    oracle="""
    SELECT c_name AS symbol, c_name || ' Common Stock' AS security_name
    FROM customer
    WHERE c_custkey % 7 <> 0 AND c_custkey % 11 <> 0
    """,
    doc="S8 pipe-delimited directory source (universe/current.py:91-177) "
    "round-trip: build the nasdaqtraded.txt-shaped file (header, '|' fields, "
    "ETF/Test-Issue flag columns, File Creation Time footer) from customer, "
    "read it back through read_pipe_delimited, drop the footer by the "
    "first-field predicate and exclude flagged rows.  Dimension-scale by "
    "nature: the reference fetches this file driver-side from FTP.",
)
def pipe_directory_q(spark, sf_dir):
    from us_equity_datalake_spark.sources.ingest import read_pipe_delimited

    root = scratch_dir("pipedir", sf_dir)
    os.makedirs(root)
    path = os.path.join(root, "nasdaqtraded.txt")
    cust = (
        load_table(spark, "customer", sf_dir)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .collect()
    )
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("Nasdaq Traded|Symbol|Security Name|ETF|Test Issue\n")
        for r in cust:
            etf = "Y" if r.c_custkey % 7 == 0 else "N"
            test = "Y" if r.c_custkey % 11 == 0 else "N"
            fh.write(f"Y|{r.c_name}|{r.c_name} Common Stock|{etf}|{test}\n")
        fh.write("File Creation Time: 1231202422:00||||\n")
    directory = read_pipe_delimited(spark, path)
    kept = directory.filter(
        (F.col("`Nasdaq Traded`") == "Y")
        & (F.col("ETF") == "N")
        & (F.col("`Test Issue`") == "N")
    )
    report = kept.select(
        F.col("Symbol").alias("symbol"),
        F.col("`Security Name`").alias("security_name"),
    )
    return local_frame(spark, report.collect(), schema=report.schema)


@register(
    "orc_roundtrip_report",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {dec_sum_sql('l_extendedprice')} AS total_price,
           {dec_sum_sql('l_discount')} AS total_discount,
           MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="ORC as a second columnar lake format: lineitem is written to ORC "
    "(snappy) partitioned by return flag, read back, and rolled up — the "
    "graded values prove decimals, dates and strings survive the "
    "parquet->ORC->aggregate round-trip bit-exactly, and the predicate "
    "reaches the ORC scan as a pushed filter the same way it does on "
    "parquet.  Spark treats both formats through the same DataSource scan "
    "machinery, so a user migrating a 100 TB ORC estate onto this engine "
    "keeps pushdown, pruning and partition layout unchanged.",
)
def orc_roundtrip_q(spark, sf_dir):
    root = scratch_dir("orc", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount", "l_shipdate"
    )
    li.write.partitionBy("l_returnflag").orc(root)
    back = spark.read.orc(root)
    return (
        back.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            dec_sum(F.col("l_extendedprice")).alias("total_price"),
            dec_sum(F.col("l_discount")).alias("total_discount"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
    )


# ---------------------------------------------------------------------------
# S10 round-trip: top-k liquidity list through the newline-txt sink.  Ranking
# uses the EXACT decimal dollar-volume sum so the boundary of the top-k and
# the written line ORDER are deterministic cross-engine; the readback
# re-attaches line numbers, so the oracle's ROW_NUMBER grades both membership
# and order of the text artifact.
# ---------------------------------------------------------------------------

_TOPK_TXT = 100


@register(
    "top3000_text_sink_report",
    oracle=f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY total DESC, symbol) AS BIGINT) AS rank,
           symbol
    FROM (
      SELECT 'S' || lpad(CAST(l_suppkey % 300 AS VARCHAR), 3, '0') AS symbol,
             {dec_sum_sql('l_extendedprice * l_quantity')} AS total
      FROM lineitem
      GROUP BY l_suppkey % 300
    )
    ORDER BY total DESC, symbol
    LIMIT {_TOPK_TXT}
    """,
    doc="S10 text sink (publishers.py:846-904) + T1 top-k: exact-decimal "
    "dollar-volume ranking over a lineitem-derived ticks fixture, top-100 "
    "written as a newline symbol list via write_symbol_list_txt, read back "
    "line-by-line with ranks re-attached.  Any ordering or membership drift "
    "in the sink breaks the hash.  The distributed part (agg + top-k) is one "
    "shuffle + TakeOrdered; the txt write is top-k bounded by design.",
)
def top3000_text_sink_q(spark, sf_dir):
    from us_equity_datalake_spark.equity.daily_job import write_symbol_list_txt

    root = scratch_dir("top3000", sf_dir)
    os.makedirs(root)
    path = os.path.join(root, "top3000.txt")
    li = load_table(spark, "lineitem", sf_dir)
    sym = F.concat(
        F.lit("S"), F.lpad((F.col("l_suppkey") % 300).cast("string"), 3, "0")
    )
    total = li.groupBy(sym.alias("symbol")).agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("total")
    )
    top = total.orderBy(F.desc("total"), F.asc("symbol")).limit(_TOPK_TXT)
    n = write_symbol_list_txt(top, path, order_by=[F.desc("total"), F.asc("symbol")])
    with open(path, encoding="utf-8") as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == n
    return local_frame(
        spark, [(i + 1, s) for i, s in enumerate(lines)], schema="rank bigint, symbol string"
    )


# ---------------------------------------------------------------------------
# S9 round-trip: full-text corpus files read through read_fulltext (one row
# per file, wholetext).  Files are written driver-side — the reference
# fetches filing texts one accession at a time (collection/sentiment.py:
# 120-150) — then the REAL operator reads them distributed and the report
# re-derives each doc's id from its filename.
# ---------------------------------------------------------------------------

_FT_N = 40  # one file per doc: bounded like a daily filing batch


@register(
    "fulltext_source_roundtrip",
    oracle=f"""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS text_md5
    FROM documents WHERE doc_id < {_FT_N}
    """,
    doc="S9 full-text source round-trip (collection/sentiment.py:120-150): "
    "bounded filing batch written one file per doc, read back with "
    "read_fulltext (wholetext + input_file_name), doc id re-parsed from the "
    "filename, content graded byte-exactly via md5.",
)
def fulltext_roundtrip_q(spark, sf_dir):
    from us_equity_datalake_spark.sources.ingest import read_fulltext

    root = scratch_dir("fulltext", sf_dir)
    os.makedirs(root)
    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < _FT_N)
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        with open(os.path.join(root, f"doc_{r.doc_id}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r.text)
    try:
        ft = read_fulltext(spark, root, whole=True)
        report = ft.select(
            F.regexp_extract(F.col("src"), r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
            F.length("text").cast("long").alias("n_chars"),
            F.md5("text").alias("text_md5"),
        )
        rows = report.collect()
        out = local_frame(spark, rows, schema=report.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# S11 round-trip: the JSON state file (prev_universe.json shape) written and
# read back through the REAL state helpers, driving the I6 snapshot diff.
# If the round-trip mangles, drops, or reorders-and-loses a ticker, the
# per-symbol status table diverges from the oracle's direct set algebra.
# ---------------------------------------------------------------------------


@register(
    "universe_state_roundtrip",
    oracle="""
    WITH day1 AS (
      SELECT c_name AS ticker FROM customer WHERE c_custkey < 500 AND c_custkey % 3 <> 0
    ),
    day2 AS (
      SELECT c_name AS ticker FROM customer WHERE c_custkey < 500 AND c_custkey % 5 <> 0
    )
    SELECT COALESCE(a.ticker, b.ticker) AS ticker,
           CASE WHEN a.ticker IS NOT NULL AND b.ticker IS NOT NULL THEN 'still_active'
                WHEN a.ticker IS NULL THEN 'appeared'
                ELSE 'disappeared' END AS status
    FROM day1 a FULL OUTER JOIN day2 b ON a.ticker = b.ticker
    """,
    doc="S11 JSON state sink/source (security_master.py:1138-1196) + I6/U2: "
    "day 1's universe is persisted with write_json_state, re-hydrated with "
    "read_json_state (sorted-key JSON on disk — the prev_universe.json "
    "shape), and the REAL universe_transition diffs the re-hydrated state "
    "against day 2.  Dimension-scale by nature; the oracle is direct "
    "full-outer set algebra on the same fixtures.",
)
def universe_state_roundtrip_q(spark, sf_dir):
    from pyspark.sql import types as T

    from us_equity_datalake_spark.equity.universe import universe_transition
    from us_equity_datalake_spark.sources.ingest import read_json_state, write_json_state

    root = scratch_dir("unistate", sf_dir)
    os.makedirs(root)
    path = os.path.join(root, "universe_state.json")
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < 500)
    day1 = cust.filter(F.col("c_custkey") % 3 != 0).select(F.col("c_name").alias("ticker"))
    day2 = cust.filter(F.col("c_custkey") % 5 != 0).select(F.col("c_name").alias("ticker"))
    write_json_state(path, {"asof": "2024-06-09", "tickers": sorted(r.ticker for r in day1.collect())})
    state = read_json_state(path)
    prev = local_frame(
        spark,
        [(t,) for t in state["tickers"]],
        T.StructType([T.StructField("ticker", T.StringType())]),
    )
    out = universe_transition(prev, day2, key="ticker").select("ticker", "status")
    return local_frame(spark, out.collect(), schema=out.schema)


# ---------------------------------------------------------------------------
# Time travel over the snapshot log (sources/snapshots.py): immutable commits
# + per-version manifests = snapshot isolation, time travel, rollback.
# ---------------------------------------------------------------------------

_TT_CUT = 100000.0  # v3's copy-on-write delete threshold


@register(
    "lake_time_travel_report",
    oracle=f"""
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
    FROM orders
    WHERE o_orderstatus = 'O'
       OR (o_orderstatus = 'F' AND o_totalprice >= {_TT_CUT})
    """,
    doc="Time travel through the copy-on-write snapshot log "
    "(sources/snapshots.py): v1 commits the 'F' orders, v2 appends the 'O' "
    "orders, v3 REWRITES the v1 files applying a delete (o_totalprice >= "
    f"{_TT_CUT}) — old bytes never change, the new manifest just stops "
    "referencing them.  The graded rows read ALL THREE versions AFTER the "
    "delete landed, so the result is only right if v1/v2 snapshots are "
    "genuinely isolated from v3's rewrite — the Delta/Iceberg reader "
    "contract, graded.  Each read hands Spark the manifest's explicit file "
    "list (no directory walk; footer pruning unchanged).",
)
def lake_time_travel_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("tt", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(orders.where(F.col("o_orderstatus") == "F"), root)
    snapshots.commit(orders.where(F.col("o_orderstatus") == "O"), root)
    # copy-on-write delete: rewrite ONLY the files of commit 1 (the F slice)
    snapshots.commit(
        orders.where(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") >= _TT_CUT)
        ),
        root,
        replace=lambda f: f"commit_v{1:06d}" in f,
    )
    parts = []
    for v in (1, 2, 3):
        parts.append(
            snapshots.read_version(spark, root, v).agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("o_totalprice")).alias("total_price"),
            ).select(F.lit(v).alias("version"), "n_rows", "total_price")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_MERGED_PRICE = (
    "CASE WHEN o_orderstatus = 'F' AND o_orderkey < (SELECT c FROM cut) "
    "THEN o_totalprice + 100000.0 ELSE o_totalprice END"
)


@register(
    "lake_merge_upsert_report",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderkey) // 10 AS c FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 1 AS version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 2, o_orderstatus, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql(_MERGED_PRICE)}
    FROM orders, cut
    WHERE o_orderstatus IN ('F', 'P')
    GROUP BY o_orderstatus
    """,
    doc="MERGE INTO (upsert) on the snapshot log with Delta-style FILE "
    "PRUNING: the base commit lands the 'F' orders key-clustered "
    "(repartitionByRange on o_orderkey), the delta updates the lowest "
    "key decile (+100000.0 marker) and inserts the 'P' orders; "
    "merge_upsert rewrites ONLY the data files that contain a matched key "
    "(one input_file_name semi-join finds them) and carries every other "
    "file into the new manifest by reference.  The graded rows read BOTH "
    "versions after the merge — v1 must show the pre-merge 'F' slice "
    "untouched (snapshot isolation under upsert), v2 the upserted state.  "
    "The file-pruning win itself (rewritten << total under a clustered "
    "layout) is pinned in tests/test_snapshots.py.",
)
def lake_merge_upsert_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("merge", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), root)

    cut = f_rows.agg((F.max("o_orderkey") / 10).cast("long")).collect()[0][0]
    updates = f_rows.where(F.col("o_orderkey") < cut).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100000.0)
    )
    inserts = orders.where(F.col("o_orderstatus") == "P")
    snapshots.merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )

    def summ(v):
        return (
            snapshots.read_version(spark, root, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("o_totalprice")).alias("total_price"),
            )
            .select(F.lit(v).alias("version"), "o_orderstatus", "n_rows", "total_price")
        )

    return summ(1).unionByName(summ(2))


_CDF_DEL = 400000.0  # v3's delete threshold on the POST-merge price


@register(
    "lake_change_feed_report",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderkey) // 10 AS c FROM orders WHERE o_orderstatus = 'F'
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey < (SELECT c FROM cut)
                  THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price
      FROM orders WHERE o_orderstatus IN ('F', 'P')
    )
    SELECT 'v1_v2' AS step, o_orderkey, 'insert' AS change_type,
           o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT 'v1_v2', o_orderkey, 'update_preimage', o_orderstatus, o_totalprice
    FROM orders, cut WHERE o_orderstatus = 'F' AND o_orderkey < cut.c
    UNION ALL
    SELECT 'v1_v2', o_orderkey, 'update_postimage', o_orderstatus,
           o_totalprice + 100000.0
    FROM orders, cut WHERE o_orderstatus = 'F' AND o_orderkey < cut.c
    UNION ALL
    SELECT 'v2_v3', o_orderkey, 'delete', o_orderstatus, price
    FROM v2 WHERE price >= {_CDF_DEL}
    """,
    doc="Row-level CHANGE DATA FEED between snapshot versions (the Delta "
    "CDF shape): v1 = the clustered 'F' orders, v2 = MERGE (decile update "
    "+ 'P' inserts), v3 = DELETE WHERE price >= 400k (file-pruned CoW).  "
    "change_feed(v1,v2) must emit exactly the inserts plus BOTH update "
    "images; change_feed(v2,v3) exactly the deletes with the post-merge "
    "price — one full-outer join per step on the manifest-pinned reads, "
    "so an incremental consumer (replication, audit, downstream aggregate "
    "maintenance) never rescans the table.  The oracle reconstructs every "
    "change row from the base table.",
)
def lake_change_feed_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("cdf", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), root)
    cut = f_rows.agg((F.max("o_orderkey") / 10).cast("long")).collect()[0][0]
    updates = f_rows.where(F.col("o_orderkey") < cut).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100000.0)
    )
    inserts = orders.where(F.col("o_orderstatus") == "P")
    snapshots.merge_upsert(spark, root, updates.unionByName(inserts), key="o_orderkey")
    snapshots.delete_where(spark, root, F.col("o_totalprice") >= F.lit(_CDF_DEL))

    def feed(vf, vt, tag):
        return snapshots.change_feed(
            spark, root, vf, vt, key="o_orderkey"
        ).select(F.lit(tag).alias("step"), "*")

    return feed(1, 2, "v1_v2").unionByName(feed(2, 3, "v2_v3"))


@register(
    "lake_cdf_incremental_agg",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderkey) // 10 AS c FROM orders WHERE o_orderstatus = 'F'
    ),
    v3 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey < (SELECT c FROM cut)
                  THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price
      FROM orders WHERE o_orderstatus IN ('F', 'P')
    ),
    final AS (SELECT * FROM v3 WHERE price < {_CDF_DEL})
    SELECT arm, o_orderstatus, n_rows, total_price FROM (
      SELECT 'direct' AS arm, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('price')} AS total_price
      FROM final GROUP BY o_orderstatus
      UNION ALL
      SELECT 'maintained', o_orderstatus,
             CAST(COUNT(*) AS BIGINT), {dec_sum_sql('price')}
      FROM final GROUP BY o_orderstatus
    )
    """,
    doc="INCREMENTAL AGGREGATE MAINTENANCE from the change feed — the "
    "identity that makes CDF useful at 100 TB: a per-status (count, exact "
    "decimal sum) aggregate is materialized at v1, then advanced to v3 by "
    "FOLDING IN ONLY the change rows (insert image +, delete image -, "
    "update as -pre +post) — the base table is never rescanned.  Both the "
    "maintained aggregate and a direct v3 recompute are in the graded "
    "result, so the identity itself is what the oracle hashes (the same "
    "discipline as the theta/HLL merge-identity queries).  The exact "
    "DECIMAL(30,6) sums make the fold order-independent — a float "
    "maintained-sum would drift from the direct recompute.",
)
def lake_cdf_incremental_agg_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("cdfagg", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), root)
    cut = f_rows.agg((F.max("o_orderkey") / 10).cast("long")).collect()[0][0]
    updates = f_rows.where(F.col("o_orderkey") < cut).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100000.0)
    )
    inserts = orders.where(F.col("o_orderstatus") == "P")
    snapshots.merge_upsert(spark, root, updates.unionByName(inserts), key="o_orderkey")
    snapshots.delete_where(spark, root, F.col("o_totalprice") >= F.lit(_CDF_DEL))

    def agg(df, arm):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        ).select(F.lit(arm).alias("arm"), "o_orderstatus", "n_rows", "total_price")

    # maintained arm: v1 aggregate advanced by the two change feeds only
    base_state = snapshots.read_version(spark, root, 1).select(
        "o_orderstatus", F.lit(1).alias("__w"), "o_totalprice"
    )
    deltas = None
    for vf, vt in ((1, 2), (2, 3)):
        cf = snapshots.change_feed(spark, root, vf, vt, key="o_orderkey")
        signed = cf.select(
            "o_orderstatus",
            F.when(F.col("change_type").isin("insert", "update_postimage"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("__w"),
            "o_totalprice",
        )
        deltas = signed if deltas is None else deltas.unionByName(signed)
    maintained = (
        base_state.unionByName(deltas)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("__w").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice") * F.col("__w")).alias("total_price"),
        )
        .where(F.col("n_rows") > 0)
        .select(F.lit("maintained").alias("arm"), "o_orderstatus", "n_rows", "total_price")
    )
    direct = agg(snapshots.read_version(spark, root, 3), "direct")
    return direct.unionByName(maintained)


# ---------------------------------------------------------------------------
# OPTIMIZE + lifecycle, oracle-graded (VERDICT r7 #4): the snapshot log's
# compaction/rollback/vacuum arms were pytest-only; these two queries put the
# lifecycle semantics on the driver's DuckDB gate.  File counts are made
# deterministic by coalesce(1) appends, so they can be graded as literals.
# ---------------------------------------------------------------------------

_OPT_CHUNKS = 6     # appends before OPTIMIZE (1 file each)
_OPT_TARGET = 2     # z-ordered output files


@register(
    "lake_optimize_report",
    oracle=f"""
    SELECT arm, o_orderstatus, n_rows, total_price, n_files FROM (
      SELECT 'pinned_pre' AS arm, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS total_price,
             CAST({_OPT_CHUNKS} AS BIGINT) AS n_files
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'optimized', o_orderstatus, CAST(COUNT(*) AS BIGINT),
             {dec_sum_sql('o_totalprice')}, CAST({_OPT_TARGET} AS BIGINT)
      FROM orders GROUP BY o_orderstatus
    )
    """,
    doc="OPTIMIZE on the snapshot log, oracle-graded (reference I5 "
    "consolidation, update/app.py:447-607): six single-file appends build "
    "the small-file problem, then optimize() rewrites the table into two "
    "z-order-clustered files (o_orderkey x o_custkey) as a NEW commit.  "
    "The graded rows read BOTH the pre-optimize version (a pinned reader "
    "must survive compaction byte-for-byte — content identity is the "
    "contract, the oracle computes it straight from the base table) and "
    "the optimized version, each with its manifest file count riding "
    "along (6 -> 2, deterministic via coalesce(1) appends).  The z-order "
    "file-skipping win itself is proven with scan metrics in "
    "tests/test_zorder_skipping.py.",
)
def lake_optimize_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("opt", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    for i in range(_OPT_CHUNKS):
        snapshots.commit(
            orders.where(F.col("o_orderkey") % _OPT_CHUNKS == i).coalesce(1), root
        )
    v_pre = snapshots.latest_version(root)
    stats = snapshots.optimize(
        spark, root, target_files=_OPT_TARGET, zorder_by=["o_orderkey", "o_custkey"]
    )

    def summ(version, arm, n_files):
        return (
            snapshots.read_version(spark, root, version)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("o_totalprice")).alias("total_price"),
            )
            .select(
                F.lit(arm).alias("arm"), "o_orderstatus", "n_rows", "total_price",
                F.lit(n_files).cast("long").alias("n_files"),
            )
        )

    return summ(v_pre, "pinned_pre", stats["files_before"]).unionByName(
        summ(stats["version"], "optimized", stats["files_after"])
    )


@register(
    "lake_lifecycle_report",
    oracle=f"""
    WITH f AS (SELECT o_totalprice FROM orders WHERE o_orderstatus = 'F'),
    o AS (SELECT o_totalprice FROM orders WHERE o_orderstatus = 'O'),
    p AS (SELECT o_totalprice FROM orders WHERE o_orderstatus = 'P')
    SELECT 'pre_vacuum' AS stage, 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price,
           CAST(1 AS BIGINT) AS n_files
    FROM f
    UNION ALL
    SELECT 'pre_vacuum', 2, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(2 AS BIGINT)
    FROM (SELECT * FROM f UNION ALL SELECT * FROM o)
    UNION ALL
    SELECT 'pre_vacuum', 3, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(1 AS BIGINT)
    FROM p
    UNION ALL
    SELECT 'pre_vacuum', 4, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(2 AS BIGINT)
    FROM (SELECT * FROM f UNION ALL SELECT * FROM o)
    UNION ALL
    SELECT 'post_vacuum', 4, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(2 AS BIGINT)
    FROM (SELECT * FROM f UNION ALL SELECT * FROM o)
    UNION ALL
    SELECT 'vacuum_removed', 0, CAST(0 AS BIGINT), CAST(0 AS DOUBLE),
           CAST(1 AS BIGINT)
    """,
    doc="Snapshot-log LIFECYCLE matrix, oracle-graded: v1 commits the 'F' "
    "orders, v2 appends the 'O' orders, v3 is a BAD OVERWRITE (the 'P' "
    "orders — a broken deploy), v4 = rollback(2) republishes v2's file "
    "list without moving data.  The pre-vacuum matrix time-travels all "
    "four versions (count + exact decimal sum + manifest file count per "
    "version — rollback must read exactly like v2); then vacuum(keep_last"
    "=1) reclaims ONLY the bad overwrite's file (the rolled-back-to files "
    "are still referenced by v4 and must survive), graded as the "
    "vacuum_removed row's n_files=1, and the post-vacuum latest read must "
    "still equal v2.  Every count is deterministic via coalesce(1) "
    "commits; the oracle reconstructs each version from the base table.",
)
def lake_lifecycle_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("lc", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderstatus", "o_totalprice"
    )
    by = lambda s: orders.where(F.col("o_orderstatus") == s).coalesce(1)
    snapshots.commit(by("F"), root)                      # v1
    snapshots.commit(by("O"), root)                      # v2
    snapshots.commit(by("P"), root, mode="overwrite")    # v3: bad deploy
    snapshots.rollback(root, 2)                          # v4

    def row(stage, version):
        n_files = len(snapshots.read_manifest(root, version)["files"])
        return (
            snapshots.read_version(spark, root, version)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("o_totalprice")).alias("total_price"),
            )
            .select(
                F.lit(stage).alias("stage"),
                F.lit(version).cast("long").alias("version"),
                "n_rows", "total_price",
                F.lit(n_files).cast("long").alias("n_files"),
            )
        )

    # materialize the matrix BEFORE vacuum: the frames are lazy, and vacuum
    # deletes v3's file — a post-vacuum collect of the v3 read would fail.
    # One batched action for the four version arms (collect_batched).
    rows = [
        tuple(r)
        for rs in collect_batched([row("pre_vacuum", v) for v in (1, 2, 3, 4)])
        for r in rs
    ]
    removed = snapshots.vacuum(root, keep_last=1)
    rows += [tuple(r) for r in row("post_vacuum", snapshots.latest_version(root)).collect()]
    rows.append(("vacuum_removed", 0, 0, 0.0, len(removed)))
    return local_frame(spark, 
        rows,
        "stage string, version long, n_rows long, total_price double, n_files long",
    )


@register(
    "lake_manifest_prune_report",
    oracle=f"""
    WITH cut AS (SELECT MAX(o_orderkey) // 10 AS c FROM orders)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price,
           CAST(8 AS BIGINT) AS files_total,
           CAST(1 AS BIGINT) AS pruned
    FROM orders, cut WHERE o_orderkey < cut.c
    GROUP BY o_orderstatus
    """,
    doc="MANIFEST-LEVEL file skipping (the Iceberg scan-planning layer "
    "above parquet footer pruning): commit records per-file o_orderkey "
    "min/max in the manifest (footer-lifted, driver-side, KB-sized), and "
    "read_version_pruned hands Spark ONLY the files whose range overlaps "
    "the predicate — at object-store scale the non-overlapping files are "
    "never opened or even listed.  The table is key-clustered "
    "(repartitionByRange into 8 files); the graded slice is the lowest "
    "key decile, so pruning must cut the file list (the ``pruned`` rider) "
    "WITHOUT changing the answer (the content columns hash against the "
    "oracle computed from the base table — a wrongly pruned file would "
    "drop rows).  Exact skip counts and the conservative no-stats "
    "fallback are pinned in tests/test_snapshots.py.",
)
def lake_manifest_prune_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("prune", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(
        orders.repartitionByRange(8, "o_orderkey"), root, stats_cols=["o_orderkey"]
    )
    cut = int(orders.agg(F.max("o_orderkey")).collect()[0][0]) // 10
    pruned, info = snapshots.read_version_pruned(spark, root, "o_orderkey", hi=cut)
    return (
        pruned.where(F.col("o_orderkey") < cut)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            "o_orderstatus", "n_rows", "total_price",
            F.lit(info["files_total"]).cast("long").alias("files_total"),
            F.lit(1 if info["files_scanned"] < info["files_total"] else 0)
            .cast("long").alias("pruned"),
        )
    )


@register(
    "lake_bloom_point_lookup_report",
    oracle="""
    WITH t AS (
      SELECT o_custkey AS ck FROM orders
      GROUP BY o_custkey ORDER BY COUNT(*), o_custkey LIMIT 1
    )
    SELECT o_orderkey, o_totalprice,
           CAST(8 AS BIGINT) AS files_total,
           CAST(1 AS BIGINT) AS pruned
    FROM orders, t WHERE o_custkey = t.ck
    """,
    doc="Per-file BLOOM index point lookup (the Delta bloom-index analog): "
    "the table is clustered by o_orderkey, so a min/max range can never "
    "prune an equality on o_custkey — every file spans the full custkey "
    "range.  commit(bloom_cols=['o_custkey']) builds one 16-bits/key "
    "filter per file on the driver, from the new files' o_custkey column "
    "alone with no Spark job (the sizing constant the bloom scale curve "
    "measured); read_version_point keeps only the files whose "
    "filter MIGHT contain the probe key (zero false negatives, so the "
    "content columns must hash against the oracle's direct filter of the "
    "base table; false positives cost an extra file, never a row).  The "
    "``pruned`` rider proves the file list shrank; exact skip counts and "
    "index maintenance through rewrites are pinned in "
    "tests/test_snapshots.py.",
)
def lake_bloom_point_lookup_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("bloomix", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    snapshots.commit(
        orders.repartitionByRange(8, "o_orderkey"), root, bloom_cols=["o_custkey"]
    )
    # Probe the FEWEST-orders customer (ties broken by custkey): with 1-2
    # orders the key occupies at most 2 of the 8 orderkey-range files, so
    # pruned=1 is guaranteed by the data rather than hoped from the fixture
    # (ADVICE r8: MIN(o_custkey)'s orders could legitimately span all 8).
    ck = (
        orders.groupBy("o_custkey")
        .count()
        .orderBy("count", "o_custkey")
        .limit(1)
        .collect()[0]["o_custkey"]
    )
    pruned, info = snapshots.read_version_point(spark, root, "o_custkey", ck)
    return (
        pruned.where(F.col("o_custkey") == ck)
        .select(
            "o_orderkey", "o_totalprice",
            F.lit(info["files_total"]).cast("long").alias("files_total"),
            F.lit(1 if info["files_scanned"] < info["files_total"] else 0)
            .cast("long").alias("pruned"),
        )
    )


@register(
    "lake_log_replay_agg",
    oracle=f"""
    WITH cut AS (
      SELECT MAX(o_orderkey) // 10 AS c FROM orders WHERE o_orderstatus = 'F'
    ),
    v AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey < (SELECT c FROM cut)
                  THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    ),
    final AS (SELECT * FROM v WHERE price < {_CDF_DEL})
    SELECT arm, o_orderstatus, n_rows, total_price FROM (
      SELECT 'direct' AS arm, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('price')} AS total_price
      FROM final GROUP BY o_orderstatus
      UNION ALL
      SELECT 'replayed', o_orderstatus,
             CAST(COUNT(*) AS BIGINT), {dec_sum_sql('price')}
      FROM final GROUP BY o_orderstatus
    )
    """,
    doc="LOG-REPLAY aggregate maintenance across MIXED transitions — the "
    "dispatcher a CDF streaming consumer runs: v1 commits the 'F' orders "
    "clustered, v2 APPENDS the 'O' orders (fast path: manifest "
    "set-difference, no join), v3 is a MERGE (decile price bump + 'P' "
    "inserts — rewrite, row-level change feed), v4 a price DELETE "
    "(rewrite).  log_replay_deltas picks the cheapest correct feed per "
    "transition; folding the signed rows into v1's per-status (count, "
    "exact decimal sum) must land exactly on a direct v4 recompute — the "
    "identity the oracle hashes, generalizing lake_cdf_incremental_agg to "
    "heterogeneous logs.  The dispatch decisions themselves "
    "(append/rewrite/rewrite) are pinned in pytest.",
)
def lake_log_replay_agg_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("replay", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), root)      # v1
    snapshots.commit(orders.where(F.col("o_orderstatus") == "O"), root)     # v2: append
    cut = f_rows.agg((F.max("o_orderkey") / 10).cast("long")).collect()[0][0]
    updates = f_rows.where(F.col("o_orderkey") < cut).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100000.0)
    )
    inserts = orders.where(F.col("o_orderstatus") == "P")
    snapshots.merge_upsert(spark, root, updates.unionByName(inserts), key="o_orderkey")  # v3
    snapshots.delete_where(spark, root, F.col("o_totalprice") >= F.lit(_CDF_DEL))        # v4

    def agg(df, arm):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        ).select(F.lit(arm).alias("arm"), "o_orderstatus", "n_rows", "total_price")

    base_state = snapshots.read_version(spark, root, 1).select(
        "o_orderstatus", F.lit(1).alias("__w"), "o_totalprice"
    )
    deltas = snapshots.log_replay_deltas(spark, root, 1, 4, key="o_orderkey").select(
        "o_orderstatus", "__w", "o_totalprice"
    )
    replayed = (
        base_state.unionByName(deltas)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("__w").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice") * F.col("__w")).alias("total_price"),
        )
        .where(F.col("n_rows") > 0)
        .select(F.lit("replayed").alias("arm"), "o_orderstatus", "n_rows", "total_price")
    )
    direct = agg(snapshots.read_version(spark, root, 4), "direct")
    return direct.unionByName(replayed)


_MC_DEL = 300000.0  # the metadata-count fixture's delete threshold


@register(
    "lake_metadata_count_report",
    oracle=f"""
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderstatus IN ('F', 'O') AND o_totalprice < {_MC_DEL}
    """,
    doc="METADATA-ONLY COUNT(*) (the Delta/Iceberg metadata-query fast "
    "path): per-file row counts are captured from the parquet footers at "
    "commit time, so counting any version — through an append AND a "
    "file-pruned DELETE rewrite — is a manifest sum on the driver: zero "
    "Spark jobs, zero file opens.  The oracle recomputes each version's "
    "count from the base table; a mismatch means the commit path lost or "
    "duplicated rows OR the metadata drifted from the data — the "
    "consistency this fast path depends on.  The graded frame is a local "
    "relation built from table_count() values.",
)
def lake_metadata_count_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("metacount", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(
        orders.where(F.col("o_orderstatus") == "F").repartitionByRange(4, "o_orderkey"),
        root,
    )
    snapshots.commit(orders.where(F.col("o_orderstatus") == "O"), root)
    snapshots.delete_where(spark, root, F.col("o_totalprice") >= F.lit(_MC_DEL))
    rows = [(v, snapshots.table_count(root, v)) for v in (1, 2, 3)]
    return local_frame(spark, rows, "version long, n_rows long")


@register(
    "lake_quarantine_report",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    tagged AS (
      SELECT *, concat_ws(',',
        CASE WHEN NOT (o_orderkey % 7 <> 0) THEN 'key_mod' END,
        CASE WHEN NOT (o_totalprice < {_MC_DEL}) THEN 'price_cap' END
      ) AS reasons
      FROM src
    )
    SELECT arm, grp, n_rows, total_price FROM (
      SELECT 'good' AS arm, o_orderstatus AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS total_price
      FROM tagged WHERE reasons = '' GROUP BY o_orderstatus
      UNION ALL
      SELECT 'quarantine', reasons, CAST(COUNT(*) AS BIGINT),
             {dec_sum_sql('o_totalprice')}
      FROM tagged WHERE reasons <> '' GROUP BY reasons
    )
    """,
    doc="Expectation-gated commit with QUARANTINE (the DLT "
    "expect_or_quarantine pattern, the production alternative to "
    "a table constraint's all-or-nothing reject): rows passing every "
    "constraint land in the table, failing rows land in a side quarantine "
    "table with a reasons column naming EVERY violated expectation "
    "(multi-violation rows carry the name-sorted comma join) — an "
    "incident never blocks the pipeline or silently drops rows.  Graded "
    "on BOTH tables: per-status aggregates of the good rows plus "
    "per-reason aggregates of the quarantined rows must reconstruct the "
    "oracle's direct split of the base table.",
)
def lake_quarantine_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("quar", sf_dir)
    good_path, quar_path = os.path.join(root, "t"), os.path.join(root, "q")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderstatus").isin("F", "O"))
    stats = snapshots.commit_quarantined(
        orders, good_path,
        constraints={
            "price_cap": F.col("o_totalprice") < _MC_DEL,
            "key_mod": F.col("o_orderkey") % 7 != 0,
        },
        quarantine_path=quar_path,
    )
    assert stats["n_good"] + stats["n_bad"] == orders.count()

    good = (
        snapshots.read_version(spark, good_path)
        .groupBy(F.col("o_orderstatus").alias("grp"))
        .agg(F.count("*").cast("long").alias("n_rows"),
             dec_sum(F.col("o_totalprice")).alias("total_price"))
        .select(F.lit("good").alias("arm"), "grp", "n_rows", "total_price")
    )
    quar = (
        snapshots.read_version(spark, quar_path)
        .groupBy(F.col("quarantine_reasons").alias("grp"))
        .agg(F.count("*").cast("long").alias("n_rows"),
             dec_sum(F.col("o_totalprice")).alias("total_price"))
        .select(F.lit("quarantine").alias("arm"), "grp", "n_rows", "total_price")
    )
    return good.unionByName(quar)


@register(
    "lake_ivm_join_report",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    b AS (SELECT c_custkey, c_mktsegment FROM customer),
    j AS (SELECT o_orderstatus, c_mktsegment, o_totalprice
          FROM a JOIN b ON o_custkey = c_custkey)
    SELECT arm, o_orderstatus, c_mktsegment, n_rows, total_price FROM (
      SELECT 'direct' AS arm, o_orderstatus, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS total_price
      FROM j GROUP BY o_orderstatus, c_mktsegment
      UNION ALL
      SELECT 'maintained', o_orderstatus, c_mktsegment,
             CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
      FROM j GROUP BY o_orderstatus, c_mktsegment
    )
    """,
    doc="INCREMENTAL VIEW MAINTENANCE for a JOIN (the delta-join algebra "
    "beyond aggregate maintenance): a materialized join view V = A ⋈ B "
    "is advanced after appends to BOTH base tables by committing ONLY "
    "ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — O(Δ) join work against the pre-append "
    "snapshots (time travel provides exactly the A₁/B₁ the algebra "
    "needs; the deltas come from the manifest set-difference fast path), "
    "never a view rebuild.  The maintained view's aggregate must equal a "
    "direct join of the final tables — the identity the oracle hashes "
    "from the base tables for both arms, same discipline as "
    "lake_cdf_incremental_agg.  At 100 TB this is the difference between "
    "a nightly view rebuild and a minutes-long delta join.",
)
def lake_ivm_join_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("ivm", sf_dir)
    a_path, b_path, v_path = (os.path.join(root, d) for d in ("a", "b", "v"))
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")

    # v1 of both base tables, and the view materialized from them
    snapshots.commit(orders.where(F.col("o_orderstatus") == "F"), a_path)
    snapshots.commit(cust.where(F.col("c_custkey") % 3 != 0), b_path)
    a1 = snapshots.read_version(spark, a_path, 1)
    b1 = snapshots.read_version(spark, b_path, 1)
    view_cols = ["o_orderstatus", "c_mktsegment", "o_totalprice"]
    snapshots.commit(
        a1.join(b1, F.col("o_custkey") == F.col("c_custkey")).select(*view_cols),
        v_path,
    )

    # appends land on BOTH sides
    snapshots.commit(orders.where(F.col("o_orderstatus") == "O"), a_path)
    snapshots.commit(cust.where(F.col("c_custkey") % 3 == 0), b_path)

    # delta-join maintenance: ΔA⋈B1 ∪ A1⋈ΔB ∪ ΔA⋈ΔB — one O(Δ) commit
    da = snapshots.incremental_rows(spark, a_path, 1, 2)
    db = snapshots.incremental_rows(spark, b_path, 1, 2)
    on = F.col("o_custkey") == F.col("c_custkey")
    delta_view = (
        da.join(b1, on).select(*view_cols)
        .unionByName(a1.join(db, on).select(*view_cols))
        .unionByName(da.join(db, on).select(*view_cols))
    )
    snapshots.commit(delta_view, v_path)

    def agg(df, arm):
        return df.groupBy("o_orderstatus", "c_mktsegment").agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        ).select(F.lit(arm).alias("arm"), "o_orderstatus", "c_mktsegment",
                 "n_rows", "total_price")

    maintained = agg(snapshots.read_version(spark, v_path), "maintained")
    direct = agg(
        snapshots.read_version(spark, a_path).join(
            snapshots.read_version(spark, b_path), on
        ).select(*view_cols),
        "direct",
    )
    return direct.unionByName(maintained)


@register(
    "lake_schema_clone_report",
    oracle=f"""
    WITH b AS (SELECT c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'),
    m AS (SELECT c_acctbal FROM customer WHERE c_mktsegment = 'MACHINERY'),
    fu AS (SELECT c_acctbal FROM customer WHERE c_mktsegment = 'FURNITURE'),
    h AS (SELECT c_acctbal FROM customer WHERE c_mktsegment = 'HOUSEHOLD'),
    bm AS (SELECT c_acctbal FROM b UNION ALL SELECT c_acctbal FROM m)
    SELECT 'v1_build' AS arm, CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(2 AS BIGINT) AS n_cols,
           {dec_sum_sql('c_acctbal')} AS acctbal_sum
    FROM b
    UNION ALL
    SELECT 'schema_reject', 1, CAST(COUNT(*) AS BIGINT), 2,
           {dec_sum_sql('c_acctbal')} FROM b
    UNION ALL
    SELECT 'v2_evolve', 2, CAST(COUNT(*) AS BIGINT), 3,
           {dec_sum_sql('c_acctbal')} FROM bm
    UNION ALL
    SELECT 'asof_travel', 1, CAST(COUNT(*) AS BIGINT), 2,
           {dec_sum_sql('c_acctbal')} FROM b
    UNION ALL
    SELECT 'cloneA_initial', 1, CAST(COUNT(*) AS BIGINT), 3,
           {dec_sum_sql('c_acctbal')} FROM bm
    UNION ALL
    SELECT 'cloneB_diverged', 2, CAST(COUNT(*) AS BIGINT), 2,
           {dec_sum_sql('c_acctbal')} FROM fu
    UNION ALL
    SELECT 'cloneB_vacuum_foreign', 0, 0, 0, CAST(0 AS DOUBLE)
    UNION ALL
    SELECT 'source_intact_after_clone_vacuum', 2, CAST(COUNT(*) AS BIGINT), 3,
           {dec_sum_sql('c_acctbal')} FROM bm
    UNION ALL
    SELECT 'source_overwrite', 3, CAST(COUNT(*) AS BIGINT), 2,
           {dec_sum_sql('c_acctbal')} FROM h
    UNION ALL
    SELECT 'source_vacuum_pinned', 0, 0, 0, CAST(0 AS DOUBLE)
    UNION ALL
    SELECT 'cloneA_after_source_vacuum', 1, CAST(COUNT(*) AS BIGINT), 3,
           {dec_sum_sql('c_acctbal')} FROM bm
    UNION ALL
    SELECT 'cloneB_vacuum_owned', 0, 1, 0, CAST(0 AS DOUBLE)
    """,
    doc="Schema-on-write + timestamp time travel + shallow-clone contract "
    "matrix, oracle-graded (promotes the round-8 pytest-only snapshot arms "
    "per VERDICT r8 #6; reference anchor: the master's custom-metadata + "
    "rebuild discipline, security_master.py:831-840).  One scratch source "
    "table and two clones drive twelve graded arms: (1) v1 commit; (2) a "
    "RETYPED append is rejected before any file lands (version must still "
    "be 1); (3) an ADDITIVE append evolves the schema (3-column merged "
    "read); (4) TIMESTAMP AS OF resolves to v1 at v1's commit stamp; "
    "(5) zero-copy clone reads the source's files; (6) the clone diverges "
    "by overwrite; (7) vacuuming the diverged clone removes ZERO files "
    "(everything its expired manifest references is source-owned — the "
    "ownership guard); (8) the source still reads intact afterwards; "
    "(9) the source overwrites itself; (10) vacuuming the source removes "
    "ZERO files (the registered clones pin v2's bytes); (11) the pinned "
    "clone still reads the full pre-overwrite content; (12) a second "
    "clone-side vacuum after further divergence reclaims exactly its ONE "
    "owned file.  The oracle recomputes every count and exact decimal "
    "acctbal sum from the base customer table.",
)
def lake_schema_clone_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    base = scratch_dir("sc", sf_dir)
    src = os.path.join(base, "src")
    dst_a = os.path.join(base, "cloneA")
    dst_b = os.path.join(base, "cloneB")
    cust = load_table(spark, "customer", sf_dir)
    seg = lambda s: cust.where(F.col("c_mktsegment") == s)  # noqa: E731
    two = lambda s: seg(s).select("c_custkey", "c_acctbal").coalesce(1)  # noqa: E731
    three = lambda s: seg(s).select(  # noqa: E731
        "c_custkey", "c_acctbal", F.col("c_nationkey").cast("long").alias("c_nationkey")
    ).coalesce(1)

    # every content arm defers its tiny aggregate into ONE collect_batched
    # action (r13; the old shape ran one collect PER ARM — 9 driver
    # round-trips of 2-3 stage-jobs each).  Deferral is safe through the
    # two interleaved vacuums because BOTH are graded to reclaim ZERO
    # files (the ownership/pin guards under test: if a guard regressed,
    # the recorded removal count reds the row regardless); the one vacuum
    # that DOES reclaim bytes (cloneB's final owned-file sweep) happens
    # strictly after the batch collect below.
    rows = []
    pending = []  # (row-index in rows, agg frame)

    def arm(name, version, df):
        pending.append((len(rows), df.agg(F.count("*"), dec_sum(F.col("c_acctbal")))))
        rows.append([name, version, None, len(df.columns), None])

    snapshots.commit(two("BUILDING"), src)                              # v1
    t_v1 = snapshots.read_manifest(src, 1)["committed_at"]
    arm("v1_build", 1, snapshots.read_version(spark, src, 1))

    try:  # retyped column must be rejected BEFORE any file lands
        snapshots.commit(
            seg("AUTOMOBILE").select(
                "c_custkey", F.col("c_acctbal").cast("string").alias("c_acctbal")
            ).coalesce(1),
            src,
        )
        rej_v = -1  # not rejected: poison the arm so the grade fails loudly
    except snapshots.SchemaEnforcementError:
        rej_v = snapshots.latest_version(src)
    arm("schema_reject", rej_v, snapshots.read_version(spark, src))

    snapshots.commit(three("MACHINERY"), src)                           # v2
    arm("v2_evolve", 2, snapshots.read_version_merged(spark, src, 2))
    arm(
        "asof_travel",
        snapshots.version_asof(src, t_v1),
        snapshots.read_version_asof(spark, src, t_v1),
    )

    snapshots.clone(src, dst_a)          # pin test: never mutated again
    arm("cloneA_initial", 1, snapshots.read_version_merged(spark, dst_a))

    snapshots.clone(src, dst_b)          # ownership test: diverges now
    snapshots.commit(two("FURNITURE"), dst_b, mode="overwrite")         # B v2
    arm("cloneB_diverged", 2, snapshots.read_version(spark, dst_b))

    removed_b = snapshots.vacuum(dst_b, keep_last=1)
    rows.append(("cloneB_vacuum_foreign", 0, len(removed_b), 0, 0.0))
    arm(
        "source_intact_after_clone_vacuum", 2,
        snapshots.read_version_merged(spark, src, 2),
    )

    snapshots.commit(two("HOUSEHOLD"), src, mode="overwrite")           # v3
    arm("source_overwrite", 3, snapshots.read_version(spark, src, 3))

    removed_s = snapshots.vacuum(src, keep_last=1)
    rows.append(["source_vacuum_pinned", 0, len(removed_s), 0, 0.0])
    arm("cloneA_after_source_vacuum", 1, snapshots.read_version_merged(spark, dst_a))

    # ONE action for all nine content arms — before the final vacuum, the
    # only one that reclaims bytes (cloneB_diverged reads the file it sweeps)
    for (i, _), got in zip(pending, collect_batched([f for _, f in pending])):
        rows[i][2], rows[i][4] = got[0][0], got[0][1]

    snapshots.commit(two("HOUSEHOLD"), dst_b, mode="overwrite")         # B v3
    removed_owned = snapshots.vacuum(dst_b, keep_last=1)
    rows.append(["cloneB_vacuum_owned", 0, len(removed_owned), 0, 0.0])

    return local_frame(spark,
        [tuple(r) for r in rows],
        "arm string, version long, n_rows long, n_cols long, acctbal_sum double",
    )


@register(
    "lake_concurrent_compact_report",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price,
           CAST(8 AS BIGINT) AS files_before,
           CAST(2 AS BIGINT) AS files_after,
           CAST(3 AS BIGINT) AS n_versions
    FROM orders GROUP BY o_orderstatus
    """,
    doc="CONCURRENT partition-scoped compaction (OPTIMIZE WHERE under the "
    "disjoint-rewrite protocol, round 9): the table lands as 8 "
    "orderkey-range files with manifest stats; two THREADED compactions — "
    "one over the low-key half, one over the high-key half, selected by "
    "the manifest's per-file min/max — run through "
    "commit_rewrite_with_retry simultaneously.  Their touched-file sets "
    "are disjoint, so whichever loses the publish race rebases and lands: "
    "the final manifest must show exactly 2 files across 3 versions, and "
    "the per-status count + exact decimal sum must equal the base table "
    "(content identity through both rewrites, whatever the interleaving).  "
    "The conflict/overlap arm is pinned in tests/test_snapshots.py.",
)
def lake_concurrent_compact_q(spark, sf_dir):
    from concurrent.futures import ThreadPoolExecutor

    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("ccmp", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(
        orders.repartitionByRange(8, "o_orderkey"), root,
        stats_cols=["o_orderkey"],
    )
    m = snapshots.read_manifest(root, 1)
    by_min = sorted(m["files"], key=lambda f: m["stats"][f]["o_orderkey"][0])
    halves = [set(by_min[:4]), set(by_min[4:])]
    with ThreadPoolExecutor(2) as ex:
        futures = [
            ex.submit(
                snapshots.compact_files, spark, root,
                match_file=lambda f, s=s: f in s,
            )
            for s in halves
        ]
        for fut in futures:
            fut.result()  # surfaces a conflict as a query failure
    v_final = snapshots.latest_version(root)
    n_after = len(snapshots.read_manifest(root, v_final)["files"])
    return (
        snapshots.read_version(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            "o_orderstatus", "n_rows", "total_price",
            F.lit(8).cast("long").alias("files_before"),
            F.lit(n_after).cast("long").alias("files_after"),
            F.lit(v_final).cast("long").alias("n_versions"),
        )
    )


@register(
    "lake_history_report",
    oracle=f"""
    WITH f AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F'),
    o AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    p AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'P')
    SELECT 'src' AS tbl, CAST(1 AS BIGINT) AS version, 'append' AS mode,
           CAST(1 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS extra_version,
           CAST(f.n AS BIGINT) AS n_rows
    FROM f
    UNION ALL
    SELECT 'src', 2, 'append', 2, 0, CAST(f.n + o.n AS BIGINT) FROM f, o
    UNION ALL
    SELECT 'src', 3, 'overwrite', 1, 0, CAST(p.n AS BIGINT) FROM p
    UNION ALL
    SELECT 'src', 4, 'rollback', 2, 2, CAST(f.n + o.n AS BIGINT) FROM f, o
    UNION ALL
    SELECT 'dst', 1, 'clone', 2, 4, CAST(f.n + o.n AS BIGINT) FROM f, o
    """,
    doc="DESCRIBE HISTORY as a graded query (promotes the r8 pytest-only "
    "audit surface): a scratch table runs append / append / bad-overwrite "
    "/ rollback(2), then a shallow clone pins it — and the full history of "
    "BOTH logs is graded: version, mode, manifest file count, the "
    "mode-specific back-pointer (rollback target / cloned-from version), "
    "and the metadata-only row count (table_count: zero Spark jobs, "
    "footer-captured counts folded at commit time).  The oracle recomputes "
    "every row count from the base table; file counts are deterministic "
    "via coalesce(1) commits.",
)
def lake_history_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    base = scratch_dir("hist", sf_dir)
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderstatus", "o_totalprice"
    )
    by = lambda s: orders.where(F.col("o_orderstatus") == s).coalesce(1)  # noqa: E731
    snapshots.commit(by("F"), src)                     # v1
    snapshots.commit(by("O"), src)                     # v2
    snapshots.commit(by("P"), src, mode="overwrite")   # v3: bad deploy
    snapshots.rollback(src, 2)                         # v4
    snapshots.clone(src, dst)                          # dst v1 pins v4's list

    rows = []
    for tbl, path in (("src", src), ("dst", dst)):
        for h in snapshots.history(path):
            extra = h.get("rolled_back_to", 0)
            if "cloned_from" in h:
                extra = h["cloned_from"]["version"]
            rows.append(
                (
                    tbl, h["version"], h["mode"], h["n_files"], extra,
                    snapshots.table_count(path, h["version"]),
                )
            )
    return local_frame(spark, 
        rows,
        "tbl string, version long, mode string, n_files long, "
        "extra_version long, n_rows long",
    )


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read DELETE / UPDATE (round 9)
# ---------------------------------------------------------------------------

_DV_P1 = "o_orderstatus = 'F' AND o_orderkey % 7 = 3"
_DV_P2 = "o_orderkey % 11 = 5"


@register(
    "lake_deletion_vector_report",
    oracle=f"""
    WITH live1 AS (SELECT * FROM orders WHERE NOT ({_DV_P1})),
    live2 AS (SELECT * FROM live1 WHERE NOT ({_DV_P2})),
    app AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
    final AS (SELECT o_totalprice FROM live2
              UNION ALL SELECT o_totalprice FROM app)
    SELECT 'v1_full' AS arm, CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum,
           CAST(0 AS BIGINT) AS rewritten
    FROM orders
    UNION ALL
    SELECT 'dv_delete', 2, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM live1
    UNION ALL
    SELECT 'meta_scan_agree', 2, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM live1
    UNION ALL
    SELECT 'time_travel_v1', 1, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM orders
    UNION ALL
    SELECT 'dv_accumulate', 3, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM live2
    UNION ALL
    SELECT 'purge', 4, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 1 FROM live2
    UNION ALL
    SELECT 'append_no_resurrect', 5, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM final
    """,
    doc="DELETION VECTORS (merge-on-read DELETE — the Delta DV / Iceberg v2 "
    "position-delete design; snapshots.delete_where_dv): deleting rows "
    "flips positions in a KB sidecar instead of rewriting GB data files.  "
    "Seven graded arms on a scratch orders table (8 orderkey-range files): "
    "(1) v1 content; (2) DV-delete of F-status keys — files_rewritten "
    "MUST be 0 and every reader hides the rows immediately; (3) COUNT(*) "
    "stays METADATA-ONLY (the arm's n_rows comes from table_count, zero "
    "jobs, vs the oracle's recount); (4) time travel to v1 ignores the "
    "vectors; (5) a second delete ACCUMULATES (evaluated over live rows "
    "only); (6) materialize_dvs purges copy-on-write and clears the dv "
    "map; (7) an append after the purge resurrects nothing.  The oracle "
    "recomputes every count and exact decimal price sum from the base "
    "table; the 100 TB point is arm 2: row-level deletes with ZERO data "
    "rewrite, visible at full scan speed minus one broadcast anti-join.",
)
def lake_deletion_vector_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("dv", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(
        orders.repartitionByRange(8, "o_orderkey"), root, stats_cols=["o_orderkey"]
    )

    # arms are DEFERRED and collected in one batched action at the end —
    # read_version pins its file list eagerly, so each arm still aggregates
    # exactly its version's content (collect_batched docstring)
    pend = []

    def arm(name, version, df, n_rows=None, rewritten=0):
        pend.append(
            (name, version, n_rows, rewritten,
             df.agg(F.count("*").alias("n"), dec_sum(F.col("o_totalprice")).alias("s")))
        )

    arm("v1_full", 1, snapshots.read_version(spark, root, 1))

    r1 = snapshots.delete_where_dv(spark, root, F.expr(_DV_P1))
    arm("dv_delete", r1["version"], snapshots.read_version(spark, root),
        rewritten=r1["files_rewritten"])
    # n_rows from the MANIFEST (zero-job metadata count); sum from the scan —
    # if the metadata answer drifted from the physical one, the oracle's
    # single recount catches it
    arm("meta_scan_agree", r1["version"], snapshots.read_version(spark, root),
        n_rows=snapshots.table_count(root))
    arm("time_travel_v1", 1, snapshots.read_version(spark, root, 1))

    r2 = snapshots.delete_where_dv(spark, root, F.expr(_DV_P2))
    arm("dv_accumulate", r2["version"], snapshots.read_version(spark, root),
        rewritten=r2["files_rewritten"])

    rp = snapshots.materialize_dvs(spark, root)
    arm("purge", rp["version"], snapshots.read_version(spark, root),
        rewritten=1 if rp["files_rewritten"] >= 1 else 0)

    v5 = snapshots.commit(orders.where(F.col("o_orderkey") <= 1000), root)
    arm("append_no_resurrect", v5, snapshots.read_version(spark, root))

    rows = []
    for (name, version, n_rows, rewritten, _), rs in zip(
        pend, collect_batched([p[4] for p in pend])
    ):
        got_n, s = rs[0]["n"], rs[0]["s"]
        rows.append((name, version, got_n if n_rows is None else n_rows, s, rewritten))

    return local_frame(spark,
        rows,
        "arm string, version long, n_rows long, price_sum double, rewritten long",
    )


@register(
    "lake_mor_update_report",
    oracle=f"""
    WITH upd AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 100
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT 'pre' AS arm, CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum,
           CAST(0 AS BIGINT) AS rewritten
    FROM orders
    UNION ALL
    SELECT 'update', 2,
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'P'),
           (SELECT {dec_sum_sql('o_totalprice')} FROM upd
            WHERE o_orderstatus = 'P'), 0
    UNION ALL
    SELECT 'post', 2, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM upd
    UNION ALL
    SELECT 'meta_count', 2, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM upd
    UNION ALL
    SELECT 'travel_v1', 1, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, 0 FROM orders
    """,
    doc="Merge-on-read UPDATE (snapshots.update_where_dv — the Iceberg v2 "
    "UPDATE shape): ONE atomic commit appends the updated row images and "
    "deletion-vectors the old images out of their files — no existing "
    "file rewritten.  Arms: (1) v1 content; (2) the update touches "
    "exactly the P-status rows (version bumps ONCE to 2, files_rewritten "
    "0, the arm's n_rows/price_sum aggregate the updated images); "
    "(3) the post-update table has the same cardinality with the CASE-d "
    "sum; (4) COUNT(*) stays metadata-only through the DV+append commit; "
    "(5) time travel to v1 shows the pre-update prices.  Oracle: the "
    "CASE-WHEN recomputation over the base table.",
)
def lake_mor_update_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("mor", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(
        orders.repartitionByRange(8, "o_orderkey"), root, stats_cols=["o_orderkey"]
    )

    rows = []

    pend = []  # deferred arms, one batched collect (collect_batched docstring)

    def arm(name, version, df, n_rows=None, rewritten=0):
        pend.append(
            (name, version, n_rows, rewritten,
             df.agg(F.count("*").alias("n"), dec_sum(F.col("o_totalprice")).alias("s")))
        )

    arm("pre", 1, snapshots.read_version(spark, root, 1))

    ru = snapshots.update_where_dv(
        spark, root, F.col("o_orderstatus") == "P",
        {"o_totalprice": F.col("o_totalprice") + 100},
    )
    cur = snapshots.read_version(spark, root)
    arm("update", ru["version"], cur.where(F.col("o_orderstatus") == "P"),
        n_rows=ru["rows_updated"], rewritten=ru["files_rewritten"])
    arm("post", ru["version"], cur)
    arm("meta_count", ru["version"], cur, n_rows=snapshots.table_count(root))
    arm("travel_v1", 1, snapshots.read_version(spark, root, 1))

    for (name, version, n_rows, rewritten, _), rs in zip(
        pend, collect_batched([p[4] for p in pend])
    ):
        got_n, s = rs[0]["n"], rs[0]["s"]
        rows.append((name, version, got_n if n_rows is None else n_rows, s, rewritten))

    return local_frame(spark,
        rows,
        "arm string, version long, n_rows long, price_sum double, rewritten long",
    )


# ---------------------------------------------------------------------------
# Partition evolution — the partition SPEC changes mid-table (round 9)
# ---------------------------------------------------------------------------


@register(
    "lake_partition_evolution_report",
    oracle=f"""
    WITH mk AS (SELECT MAX(o_custkey) AS m FROM orders),
    t AS (SELECT o_orderkey, o_custkey, o_totalprice,
                 year(o_orderdate) AS o_year FROM orders
          WHERE o_custkey IS NOT NULL)
    SELECT 'full_after_evolution' AS arm,
           CAST(11 AS BIGINT) AS files_total,
           CAST(11 AS BIGINT) AS files_scanned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum
    FROM t
    UNION ALL
    SELECT 'prune_on_old_spec', 11, 5, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}
    FROM t WHERE o_year = 1997
    UNION ALL
    SELECT 'prune_on_new_spec', 11, 8, CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}
    FROM t, mk WHERE o_custkey <= m // 4
    """,
    doc="PARTITION EVOLUTION (the Iceberg hidden-partitioning contract: the "
    "partition spec may change mid-table and readers never know): the first "
    "seven commits cluster orders by YEAR (one file per year, 1995-2001), "
    "then the spec evolves and four more commits cluster by CUSTKEY "
    "quartile.  The spec change applies to NEWLY ARRIVING data (the first "
    "orderkey half lands under the old spec, the second half under the "
    "new one — no old file is rewritten, the Iceberg point).  Because "
    "pruning is per-FILE manifest stats rather than directory layout, "
    "scan planning handles both layouts in one read: a "
    "year=1997 probe keeps exactly 1 old-spec file + the 4 new-spec files "
    "(5 of 11 — every custkey file spans all years), and a custkey<=max/4 "
    "probe keeps exactly 1 new-spec file + the 7 old-spec files (8 of 11). "
    "Both pruned reads are also content-graded (the kept files still carry "
    "non-matching rows; the row predicate applies after the file cut), and "
    "the full read proves evolution lost nothing.  At 100 TB this is why "
    "stats-based scan planning beats hive directory layouts: changing the "
    "spec costs NOTHING retroactively — no rewrite of the old files.",
)
def lake_partition_evolution_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("pevo", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_custkey").isNotNull()
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    # the spec change applies to NEW data: first orderkey half arrives under
    # spec 1 (year files), second half under spec 2 (custkey-quartile files)
    cut = orders.agg(F.max("o_orderkey")).collect()[0][0] // 2
    old_half = orders.where(F.col("o_orderkey") <= cut)
    new_half = orders.where(F.col("o_orderkey") > cut)
    # spec 1: partition by year — one commit per partition, one file each
    for y in range(1995, 2002):
        snapshots.commit(
            old_half.where(F.col("o_year") == y).coalesce(1), root,
            stats_cols=["o_year", "o_custkey"],
        )
    # spec 2: partition by custkey quartile (integer-division bounds the
    # oracle replicates) — old files stay exactly as written
    mk = orders.agg(F.max("o_custkey")).collect()[0][0]
    bounds = [-1, mk // 4, mk // 2, (3 * mk) // 4, mk]  # custkey 0 exists
    for lo, hi in zip(bounds, bounds[1:]):
        snapshots.commit(
            new_half.where((F.col("o_custkey") > lo) & (F.col("o_custkey") <= hi))
            .coalesce(1),
            root,
        )
    pend = []  # deferred arms, one batched collect (collect_batched docstring)

    def arm(name, df, info):
        pend.append(
            (name, info,
             df.agg(F.count("*").alias("n"), dec_sum(F.col("o_totalprice")).alias("s")))
        )

    full = snapshots.read_version(spark, root)
    n_files = len(snapshots.read_manifest(root, snapshots.latest_version(root))["files"])
    arm("full_after_evolution", full,
        {"files_total": n_files, "files_scanned": n_files})

    pruned_y, info_y = snapshots.read_version_pruned(spark, root, "o_year", lo=1997, hi=1997)
    arm("prune_on_old_spec", pruned_y.where(F.col("o_year") == 1997), info_y)

    pruned_c, info_c = snapshots.read_version_pruned(
        spark, root, "o_custkey", lo=0, hi=mk // 4
    )
    arm("prune_on_new_spec", pruned_c.where(F.col("o_custkey") <= mk // 4), info_c)

    rows = []
    for (name, info, _), rs in zip(pend, collect_batched([p[2] for p in pend])):
        rows.append((name, info["files_total"], info["files_scanned"], rs[0]["n"], rs[0]["s"]))

    return local_frame(spark,
        rows,
        "arm string, files_total long, files_scanned long, n_rows long, price_sum double",
    )


# ---------------------------------------------------------------------------
# O(Δ) change feed from deletion-vector commits (round 10, VERDICT r9 #6):
# change_feed() full-outer-joins two complete snapshots — O(table) per feed
# even when the transition was a delete_dv/update_dv commit whose manifest
# already NAMES the exact dead positions and appended files.
# change_feed_deltas() dispatches per transition (append → added-files scan,
# DV commit → position-delta semi-join over only the vectored files, rewrite
# → join-based fallback); the graded 'mode' column pins the dispatch itself.
# Reference anchor: the read-check-append discipline of update/app.py:877-958.
# ---------------------------------------------------------------------------

_DVCF_UP = 50000.0  # v3's UPDATE bump on o_totalprice


@register(
    "lake_dv_change_feed_report",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    ),
    live2 AS (SELECT * FROM f WHERE o_orderkey % 7 <> 3)
    SELECT 'v1_v2' AS step, 'dv' AS mode, o_orderkey,
           'delete' AS change_type, o_orderstatus, o_totalprice AS price
    FROM f WHERE o_orderkey % 7 = 3
    UNION ALL
    SELECT 'v2_v3', 'dv', o_orderkey, 'update_preimage', o_orderstatus,
           o_totalprice
    FROM live2 WHERE o_orderkey % 5 = 1
    UNION ALL
    SELECT 'v2_v3', 'dv', o_orderkey, 'update_postimage', o_orderstatus,
           o_totalprice + {_DVCF_UP}
    FROM live2 WHERE o_orderkey % 5 = 1
    UNION ALL
    SELECT 'v3_v4', 'append', o_orderkey, 'insert', o_orderstatus,
           o_totalprice
    FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="O(Δ) CHANGE FEED from merge-on-read commits: v1 = the 'F' orders "
    "(8 range files), v2 = DELETE via deletion vectors (zero rewrites), "
    "v3 = UPDATE via DV + appended post-images, v4 = plain append of the "
    "'P' orders.  change_feed_deltas reads each transition at the cost of "
    "what the commit TOUCHED — the DV transitions semi-join only the "
    "newly-vectored files against the manifest-named position delta, the "
    "append transition scans only the added files; no full-outer snapshot "
    "join anywhere.  The graded 'mode' column is the dispatch decision "
    "('dv'/'dv'/'append'), so a silent fallback to the O(table) join path "
    "fails the hash.  The oracle reconstructs every event from the base "
    "table.",
)
def lake_dv_change_feed_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("dvcf", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(8, "o_orderkey"), root)  # v1
    snapshots.delete_where_dv(spark, root, F.col("o_orderkey") % 7 == 3)  # v2
    snapshots.update_where_dv(  # v3
        spark, root, F.col("o_orderkey") % 5 == 1,
        {"o_totalprice": F.col("o_totalprice") + F.lit(_DVCF_UP)},
    )
    snapshots.commit(orders.where(F.col("o_orderstatus") == "P"), root)  # v4

    def step(v, tag):
        modes: list = []
        d = snapshots.change_feed_deltas(
            spark, root, v, v + 1, key="o_orderkey", modes_out=modes
        )
        return d.select(
            F.lit(tag).alias("step"),
            F.lit(modes[0]).alias("mode"),
            "o_orderkey",
            "change_type",
            "o_orderstatus",
            F.col("o_totalprice").alias("price"),
        )

    return (
        step(1, "v1_v2").unionByName(step(2, "v2_v3")).unionByName(step(3, "v3_v4"))
    )


@register(
    "lake_clone_pin_report",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    ),
    live AS (SELECT * FROM f WHERE o_orderkey % 3 <> 0),
    p AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
    ),
    src AS (SELECT * FROM live UNION ALL SELECT * FROM p)
    SELECT 'clone_before_vacuum' AS arm,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum,
           CAST(0 AS BIGINT) AS n_files_removed
    FROM live
    UNION ALL
    SELECT 'source_before_vacuum', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(0 AS BIGINT)
    FROM src
    UNION ALL
    SELECT 'source_after_vacuum', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(1 AS BIGINT)
    FROM src
    UNION ALL
    SELECT 'clone_after_vacuum', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(0 AS BIGINT)
    FROM live
    """,
    doc="CLONE-PIN VACUUM CONTRACT (round 10, VERDICT r9 #8 — previously "
    "pytest-only): v1 = the 'F' orders (4 range files), v2 = DV delete of "
    "every third key (sidecars, zero rewrites), CLONE pinned at v2, v3 = "
    "append the 'P' orders (1 file, NOT pinned), v4 = OPTIMIZE (rewrites "
    "everything into 1 file).  vacuum(keep_last=1) then expires v1–v3: the "
    "graded contract is that exactly ONE data file is reclaimed (the "
    "unpinned v3 append), while the clone — whose manifest references the "
    "SOURCE's files and DV sidecars — still reads its pinned version "
    "byte-exactly afterwards.  Reference anchor: the master's "
    "custom-metadata rebuild discipline, security_master.py:831-840.",
)
def lake_clone_pin_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    base = scratch_dir("clonepin", sf_dir)
    src_root, clone_root = os.path.join(base, "src"), os.path.join(base, "clone")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F").drop("o_orderstatus")
    snapshots.commit(f_rows.repartitionByRange(4, "o_orderkey"), src_root)  # v1
    snapshots.delete_where_dv(spark, src_root, F.col("o_orderkey") % 3 == 0)  # v2
    snapshots.clone(src_root, clone_root)  # pins v2's files + DV sidecars
    snapshots.commit(  # v3: unpinned append
        orders.where(F.col("o_orderstatus") == "P").drop("o_orderstatus")
        .coalesce(1),
        src_root,
    )
    snapshots.optimize(spark, src_root, target_files=1)  # v4

    def arm(name, df, n_removed):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("price_sum"),
        ).select(
            F.lit(name).alias("arm"), "n_rows", "price_sum",
            F.lit(n_removed).cast("long").alias("n_files_removed"),
        )

    before_clone = arm(
        "clone_before_vacuum", snapshots.read_version(spark, clone_root), 0
    )
    before_src = arm(
        "source_before_vacuum", snapshots.read_version(spark, src_root), 0
    )
    # the BEFORE arms must materialize before history expires — ONE
    # collect (collect_batched) into an Arrow local relation, instead of
    # the old cache()+count() (same action count, but no cached-plan fill
    # at uncoalesced shuffle width and no cache-manager entry to leak)
    b_rows = collect_batched([before_clone, before_src])
    before = local_frame(
        spark, [tuple(r) for rs in b_rows for r in rs],
        "arm string, n_rows long, price_sum double, n_files_removed long",
    )

    removed = snapshots.vacuum(src_root, keep_last=1)
    n_removed = sum(1 for p in removed if p.endswith(".parquet"))
    after_src = arm(
        "source_after_vacuum", snapshots.read_version(spark, src_root), n_removed
    )
    after_clone = arm(
        "clone_after_vacuum", snapshots.read_version(spark, clone_root), 0
    )
    return before.unionByName(after_src).unionByName(after_clone)


@register(
    "lake_column_rename_report",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    ),
    p AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
    ),
    cur AS (
      SELECT * FROM (SELECT * FROM f UNION ALL SELECT * FROM p)
      WHERE o_orderkey % 9 <> 2
    ),
    cut AS (SELECT MAX(o_totalprice) / 2 AS c FROM f)
    SELECT 'v1_pre_rename' AS arm, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum
    FROM f
    UNION ALL
    SELECT 'latest_renamed', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}
    FROM cur
    UNION ALL
    SELECT 'pruned_on_renamed', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}
    FROM cur, cut WHERE o_totalprice <= cut.c
    """,
    doc="RENAME COLUMN via column mapping (round 10; Delta/Iceberg name "
    "mode): v1 commits the 'F' orders range-clustered by o_totalprice with "
    "manifest stats on it; v2 renames o_totalprice -> price_usd as a "
    "METADATA-ONLY commit (zero files rewritten — pinned in pytest); v3 "
    "appends the 'P' orders under the NEW logical name (the file lands "
    "with the PHYSICAL name, so all files agree); v4 DV-deletes every "
    "ninth key across both generations.  Graded arms: the pre-rename "
    "snapshot still reads o_totalprice (schema history is part of the "
    "log), the latest snapshot reads price_usd across both file "
    "generations with vectors applied, and a manifest-PRUNED range read "
    "on the RENAMED name — the stats index is keyed by physical names, so "
    "pruning survives the rename (the query RAISES if no file was cut).  "
    "Reference anchor: the in-place parquet mutation that would force a "
    "full rewrite for a rename, update/app.py:296-445.",
)
def lake_column_rename_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("rename", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F").drop("o_orderstatus")
    snapshots.commit(  # v1: clustered + indexed on the soon-renamed column
        f_rows.repartitionByRange(4, "o_totalprice"),
        root,
        stats_cols=["o_totalprice"],
    )
    cut = f_rows.agg((F.max("o_totalprice") / 2)).collect()[0][0]
    snapshots.rename_column(root, "o_totalprice", "price_usd")  # v2
    snapshots.commit(  # v3: append under the NEW logical name
        orders.where(F.col("o_orderstatus") == "P")
        .select("o_orderkey", F.col("o_totalprice").alias("price_usd"))
        .coalesce(1),
        root,
    )
    snapshots.delete_where_dv(spark, root, F.col("o_orderkey") % 9 == 2)  # v4

    def arm(name, df, col):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col(col)).alias("price_sum"),
        ).select(F.lit(name).alias("arm"), "n_rows", "price_sum")

    pre = arm("v1_pre_rename", snapshots.read_version(spark, root, 1),
              "o_totalprice")
    latest = arm("latest_renamed", snapshots.read_version(spark, root),
                 "price_usd")
    pruned, info = snapshots.read_version_pruned(
        spark, root, "price_usd", hi=cut
    )
    if not info["files_scanned"] < info["files_total"]:
        raise AssertionError(
            f"rename broke stats pruning: {info} (no file cut on price_usd)"
        )
    pruned_arm = arm(
        "pruned_on_renamed", pruned.where(F.col("price_usd") <= cut), "price_usd"
    )
    return pre.unionByName(latest).unionByName(pruned_arm)


@register(
    "lake_column_drop_report",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    ),
    p AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
    ),
    cur AS (
      SELECT * FROM (SELECT * FROM f UNION ALL SELECT * FROM p)
      WHERE o_orderkey % 6 <> 1
    )
    SELECT 'v1_with_status' AS arm, CAST(3 AS BIGINT) AS n_cols,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum
    FROM f
    UNION ALL
    SELECT 'latest_dropped_renamed', CAST(2 AS BIGINT),
           CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
    FROM cur
    """,
    doc="DROP COLUMN via column mapping (round 10, the drop half of the "
    "rename feature): v1 commits the 'F' orders WITH o_orderstatus; v2 "
    "drops it metadata-only (zero rewrites — the bytes stay in the files "
    "and v1 still reads them: the graded n_cols is 3 at v1, 2 at latest); "
    "v3 appends the 'P' orders without the column; v4 renames "
    "o_totalprice -> price; v5 DV-deletes every sixth key.  One scan at "
    "the end projects the dead slot out, maps the renamed column, and "
    "anti-joins the vectors.  Reusing the dropped slot for a new column "
    "is a SchemaEnforcementError (pytest-pinned) because the stale bytes "
    "would resurrect.",
)
def lake_column_drop_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("drop", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F")
    snapshots.commit(f_rows.repartitionByRange(4, "o_orderkey"), root)  # v1
    snapshots.drop_column(root, "o_orderstatus")  # v2
    snapshots.commit(  # v3
        orders.where(F.col("o_orderstatus") == "P")
        .select("o_orderkey", "o_totalprice").coalesce(1),
        root,
    )
    snapshots.rename_column(root, "o_totalprice", "price")  # v4
    snapshots.delete_where_dv(spark, root, F.col("o_orderkey") % 6 == 1)  # v5

    def arm(name, df, col):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col(col)).alias("price_sum"),
        ).select(
            F.lit(name).alias("arm"),
            F.lit(len(df.columns)).cast("long").alias("n_cols"),
            "n_rows", "price_sum",
        )

    v1 = snapshots.read_version(spark, root, 1)
    latest = snapshots.read_version(spark, root)
    return arm("v1_with_status", v1, "o_totalprice").unionByName(
        arm("latest_dropped_renamed", latest, "price")
    )


@register(
    "lake_constraint_report",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    ),
    p AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
    ),
    final AS (SELECT * FROM f UNION ALL SELECT * FROM p)
    SELECT 'after_reject' AS arm, CAST(2 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS price_sum
    FROM f
    UNION ALL
    SELECT 'final', CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}
    FROM final
    """,
    doc="TABLE-LEVEL CHECK CONSTRAINTS (round 10; Delta ALTER TABLE ADD "
    "CONSTRAINT): v1 commits the 'F' orders; v2 registers "
    "price_nonneg (o_totalprice >= 0) after a full validation scan; a "
    "commit of NEGATED 'P' prices is then rejected ATOMICALLY by plain "
    "commit() — the graded 'after_reject' arm pins that the version is "
    "still 2 and the content is exactly v1's; the conforming 'P' append "
    "lands as v3 ('final' arm).  The constraint is a durable table "
    "property carried by every manifest, enforced on every write path "
    "(append, retry writers, MoR update post-images, streaming merges).",
)
def lake_constraint_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("cons", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F").drop("o_orderstatus")
    p_rows = orders.where(F.col("o_orderstatus") == "P").drop("o_orderstatus")
    snapshots.commit(f_rows.repartitionByRange(4, "o_orderkey"), root)  # v1
    snapshots.add_table_constraint(  # v2
        spark, root, "price_nonneg", "o_totalprice >= 0"
    )
    try:
        snapshots.commit(
            p_rows.withColumn("o_totalprice", -F.col("o_totalprice")), root
        )
        raise AssertionError("violating commit was not rejected")
    except snapshots.ConstraintViolation:
        pass  # the graded path: rejected atomically

    def arm(name, df, version):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("price_sum"),
        ).select(
            F.lit(name).alias("arm"),
            F.lit(version).cast("long").alias("version"),
            "n_rows", "price_sum",
        )

    after_reject = arm(
        "after_reject", snapshots.read_version(spark, root),
        snapshots.latest_version(root),
    )
    # force materialization BEFORE v3 lands (latest_version is read eagerly,
    # but the frame itself is lazy — cache pins the rejected-state read)
    after_reject = after_reject.cache()
    after_reject.count()
    snapshots.commit(p_rows.coalesce(1), root)  # v3: conforming append
    final = arm("final", snapshots.read_version(spark, root),
                snapshots.latest_version(root))
    return after_reject.unionByName(final)


@register(
    "lake_concurrent_dv_report",
    oracle=f"""
    WITH live AS (SELECT * FROM orders WHERE o_orderkey % 7 NOT IN (3, 5)),
    d AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 7 IN (3, 5))
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price,
           CAST(3 AS BIGINT) AS n_versions,
           CAST(d.n AS BIGINT) AS rows_deleted_total,
           CAST(0 AS BIGINT) AS files_rewritten
    FROM live, d GROUP BY o_orderstatus, d.n
    """,
    doc="CONCURRENT deletion-vector writers under the round-11 rebase "
    "protocol (the benign DV/DV race Delta auto-resolves): two THREADED "
    "delete_where_dv transactions with row-disjoint predicates "
    "(o_orderkey % 7 = 3 vs = 5) run simultaneously against the same "
    "snapshot of an 8-file range-partitioned table.  Both touch the SAME "
    "files, so whichever loses the publish race rebases and UNIONS its "
    "per-file position vectors with the winner's (same-file disjoint "
    "positions — the mergeable case; overlapping rows would raise, pinned "
    "in tests/test_snapshots.py).  The graded identity: whatever the "
    "interleaving, exactly 3 versions exist, zero files were rewritten, "
    "and the per-status live counts + exact decimal sums equal the base "
    "minus BOTH deletes — no lost delete, no double count.",
)
def lake_concurrent_dv_q(spark, sf_dir):
    from concurrent.futures import ThreadPoolExecutor

    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("cdv", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshots.commit(orders.repartitionByRange(8, "o_orderkey"), root)  # v1
    with ThreadPoolExecutor(2) as ex:
        futures = [
            ex.submit(snapshots.delete_where_dv, spark, root,
                      F.col("o_orderkey") % 7 == k)
            for k in (3, 5)
        ]
        results = [f.result() for f in futures]  # a conflict fails the query
    v_final = snapshots.latest_version(root)
    n_deleted = sum(r["rows_deleted"] for r in results)
    n_rewritten = sum(r["files_rewritten"] for r in results)
    return (
        snapshots.read_version(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            "o_orderstatus", "n_rows", "total_price",
            F.lit(v_final).cast("long").alias("n_versions"),
            F.lit(n_deleted).cast("long").alias("rows_deleted_total"),
            F.lit(n_rewritten).cast("long").alias("files_rewritten"),
        )
    )


@register(
    "lake_dv_retry_append_report",
    oracle=f"""
    SELECT arm, version, o_orderstatus, n_rows, total_price FROM (
      SELECT 'after_retry_append' AS arm, CAST(3 AS BIGINT) AS version,
             o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS total_price
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'after_disjoint_rewrite', CAST(4 AS BIGINT), o_orderstatus,
             CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
      FROM orders GROUP BY o_orderstatus
    )
    """,
    doc="Deletion vectors must survive the RETRY WRITERS (r11 fix; the "
    "reference's read-check-append incremental job, update/app.py:877-958, "
    "composed with MoR deletes): v1 commits orders range-partitioned, v2 "
    "delete_where_dv removes the o_orderkey %% 5 = 0 slice, v3 re-inserts "
    "exactly that slice through commit_with_retry (the reconciling append "
    "path), v4 compacts ONLY v3's files through commit_rewrite_with_retry. "
    "Graded identity: after each step the live table equals the base "
    "orders table per status (delete + re-insert cancel) — a retry writer "
    "publishing a manifest WITHOUT the dv map would resurrect the deleted "
    "rows alongside the re-inserted ones (2x the slice) and fail the "
    "count; the disjoint rewrite must keep v1's vectors on the files it "
    "did not touch.  Conflict arms (vector drift on a rewrite's own "
    "target) are pinned in tests/test_snapshots.py.",
)
def lake_dv_retry_append_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("dvra", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    slice_pred = F.col("o_orderkey") % 5 == 0
    snapshots.commit(orders.repartitionByRange(4, "o_orderkey"), root)   # v1
    snapshots.delete_where_dv(spark, root, slice_pred)                   # v2
    snapshots.commit_with_retry(orders.where(slice_pred), root)          # v3

    def arm(name, version):
        return (
            snapshots.read_version(spark, root, version)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("o_totalprice")).alias("total_price"),
            )
            .select(
                F.lit(name).alias("arm"),
                F.lit(version).cast("long").alias("version"),
                "o_orderstatus", "n_rows", "total_price",
            )
        )

    # no pin needed (r13): read_version(3) resolved its file list eagerly,
    # and a rewrite only drops files from the MANIFEST — the bytes stay on
    # disk for older versions (no vacuum here), so the arm collects fine
    # after v4 lands.  The old cache()+count() both cost an extra action
    # and materialized through the no-AQE-coalescing cached-plan path.
    a1 = arm("after_retry_append", 3)
    v3_files = (set(snapshots.read_manifest(root, 3)["files"])
                - set(snapshots.read_manifest(root, 2)["files"]))
    snapshots.commit_rewrite_with_retry(                                 # v4
        orders.where(slice_pred).coalesce(1), root,
        replace=lambda f: f in v3_files,
    )
    return a1.unionByName(arm("after_disjoint_rewrite", 4))


@register(
    "lake_row_tracking_report",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_orderstatus,
                      ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
               FROM orders WHERE o_orderkey % 3 = 0),
    b AS (SELECT o_orderkey, o_orderstatus,
                 (SELECT COUNT(*) FROM a)
                 + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
          FROM orders WHERE o_orderkey % 3 = 1),
    ab AS (SELECT * FROM a UNION ALL SELECT * FROM b),
    live AS (SELECT * FROM ab WHERE o_orderkey % 5 <> 0),
    c AS (SELECT o_orderkey, o_orderstatus,
                 (SELECT COUNT(*) FROM ab)
                 + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
          FROM orders WHERE o_orderkey % 3 = 2),
    v6 AS (SELECT * FROM live UNION ALL SELECT * FROM c)
    SELECT arm, version, o_orderstatus, n_rows, id_sum, pair_sum FROM (
      SELECT 'after_dv_delete' AS arm, CAST(4 AS BIGINT) AS version,
             o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(rid) AS BIGINT) AS id_sum,
             CAST(SUM(rid * (o_orderkey % 97)) AS BIGINT) AS pair_sum
      FROM live GROUP BY o_orderstatus
      UNION ALL
      SELECT 'after_optimize', CAST(5 AS BIGINT), o_orderstatus,
             CAST(COUNT(*) AS BIGINT), CAST(SUM(rid) AS BIGINT),
             CAST(SUM(rid * (o_orderkey % 97)) AS BIGINT)
      FROM live GROUP BY o_orderstatus
      UNION ALL
      SELECT 'after_append', CAST(6 AS BIGINT), o_orderstatus,
             CAST(COUNT(*) AS BIGINT), CAST(SUM(rid) AS BIGINT),
             CAST(SUM(rid * (o_orderkey % 97)) AS BIGINT)
      FROM v6 GROUP BY o_orderstatus
    )
    """,
    doc="ROW TRACKING (r11; Delta row tracking / Iceberg row lineage): "
    "enable_row_tracking assigns every row a stable 64-bit _row_id with a "
    "METADATA-ONLY backfill (base id per file + parquet row position — "
    "zero bytes rewritten at any table size), appends mint monotonically "
    "from a manifest watermark, and id-preserving rewrites (OPTIMIZE, "
    "compaction, REORG PURGE) thread ids through as a physical column in "
    "the rewritten files.  The graded identity PINS THE PAIRING, not just "
    "the id set: per-status SUM(_row_id) and SUM(_row_id * (o_orderkey % "
    "97)) must match the oracle's deterministic assignment (single sorted "
    "file per commit -> rid = rank by o_orderkey) after (1) a DV delete, "
    "(2) a z-ordered OPTIMIZE that rewrites every file — layout changes, "
    "identity must not — and (3) a fresh append whose ids start at the "
    "watermark (deleted ids never reused).  Concurrency, clone/rollback "
    "carry, and the feed guard are pinned in tests/test_snapshots.py.",
)
def lake_row_tracking_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("rt", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus"
    )

    def slice_sorted(k):
        return (
            orders.where(F.col("o_orderkey") % 3 == k)
            .repartition(1).sortWithinPartitions("o_orderkey")
        )

    snapshots.commit(slice_sorted(0), root)                      # v1
    snapshots.enable_row_tracking(root)                          # v2
    snapshots.commit(slice_sorted(1), root)                      # v3
    snapshots.delete_where_dv(spark, root, F.col("o_orderkey") % 5 == 0)  # v4

    def arm(name, version):
        return (
            snapshots.read_version_row_ids(spark, root, version)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("_row_id").cast("long").alias("id_sum"),
                F.sum(F.col("_row_id") * (F.col("o_orderkey") % 97))
                .cast("long").alias("pair_sum"),
            )
            .select(
                F.lit(name).alias("arm"),
                F.lit(version).cast("long").alias("version"),
                "o_orderstatus", "n_rows", "id_sum", "pair_sum",
            )
        )

    # no cache pins needed: each arm reads an explicit pinned version whose
    # manifest and files are immutable under later commits
    a4 = arm("after_dv_delete", 4)
    snapshots.optimize(spark, root, target_files=2, zorder_by=["o_orderkey"])  # v5
    a5 = arm("after_optimize", 5)
    snapshots.commit(slice_sorted(2), root)                      # v6
    return a4.unionByName(a5).unionByName(arm("after_append", 6))


@register(
    "lake_merge_evolve_report",
    oracle=f"""
    SELECT src, n_rows, price_sum, files_rewritten FROM (
      SELECT 'm' AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice * 2')} AS price_sum,
             CAST(4 AS BIGINT) AS files_rewritten
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT NULL, CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')},
             CAST(4 AS BIGINT)
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    """,
    doc="MERGE WITH SCHEMA EVOLUTION (r11; Delta withSchemaEvolution): a "
    "delta carrying a NEW column (src) upserts the o_orderkey %% 7 = 0 "
    "slice at doubled price; the table schema widens ADDITIVELY in the "
    "same copy-on-write commit — surviving rows of rewritten files and "
    "all carried-over rows read src as NULL through read_version_merged. "
    "The same merge WITHOUT the flag must raise before any file lands "
    "(silent widening forks a 100 TB schema), asserted in the query body. "
    "Graded per src group: counts + exact decimal price sums + the pruned "
    "rewrite's file count.",
)
def lake_merge_evolve_q(spark, sf_dir):
    from pyspark.errors import AnalysisException

    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("mev", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice"
    )
    snapshots.commit(orders.repartitionByRange(4, "o_orderkey"), root)  # v1
    delta = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("src", F.lit("m"))
    )
    try:
        snapshots.merge_upsert(spark, root, delta, key="o_orderkey")
    except AnalysisException as e:  # the unionByName width check
        if "allowMissingColumns" not in str(e) and "UNION" not in str(e).upper():
            raise
    else:
        raise AssertionError("schema-widening merge landed without the flag")
    st = snapshots.merge_upsert(
        spark, root, delta, key="o_orderkey", allow_schema_evolution=True
    )
    return (
        snapshots.read_version_merged(spark, root, st["version"])
        .groupBy("src")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("price_sum"),
        )
        .select(
            "src", "n_rows", "price_sum",
            F.lit(st["files_rewritten"]).cast("long").alias("files_rewritten"),
        )
    )


@register(
    "lake_txn_report",
    oracle=f"""
    WITH b0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
    b1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1),
    b2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 2),
    c01 AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1),
    call AS (SELECT * FROM c01 UNION ALL SELECT * FROM b2)
    SELECT arm, version, n_rows, price_sum FROM (
      SELECT 'pre_recover_facts_committed' AS arm, CAST(2 AS BIGINT) AS version,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS price_sum
      FROM c01
      UNION ALL
      SELECT 'pre_recover_facts_latest_dirty', CAST(3 AS BIGINT),
             CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
      FROM call
      UNION ALL
      SELECT 'pre_recover_derived_committed', CAST(2 AS BIGINT),
             CAST(2 AS BIGINT), {dec_sum_sql('o_totalprice')}
      FROM c01
      UNION ALL
      SELECT 'post_recover_facts_committed', CAST(3 AS BIGINT),
             CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')}
      FROM call
      UNION ALL
      SELECT 'post_recover_derived_committed', CAST(3 AS BIGINT),
             CAST(3 AS BIGINT), {dec_sum_sql('o_totalprice')}
      FROM call
    )
    """,
    doc="MULTI-TABLE ATOMIC TRANSACTION (r11 — the medallion consistency "
    "primitive per-table Delta/Iceberg lack): commit_transaction stages "
    "every table's files, records ONE intent/status file (the commit "
    "point), publishes each table through the reconciling append rebase "
    "stamped with the txn id, then flips the status atomically.  The "
    "graded scenario: txn1 lands a facts batch + its derived per-batch "
    "summary on two tables; txn2 CRASHES between the two publishes "
    "(injected).  Graded identities: committed reads of BOTH tables stay "
    "at the txn1 cut (facts' pending v3 is skipped — while the plain "
    "latest read shows it, the documented read-uncommitted arm); "
    "recover_transactions rolls the log FORWARD from the already-durable "
    "staged files, after which both tables advance together.  Abort and "
    "hard-crash recovery arms are pinned in tests/test_snapshots.py.",
)
def lake_txn_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    facts_p, der_p = scratch_dir("txf", sf_dir), scratch_dir("txd", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice"
    )

    def batch(k):
        return orders.where(F.col("o_orderkey") % 3 == k)

    def derived(k):
        return batch(k).agg(
            F.lit(k).alias("batch"),
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        ).select("batch", "n_rows", "total_price")

    snapshots.commit(batch(0), facts_p)                              # v1
    snapshots.commit(derived(0), der_p)                              # v1
    snapshots.commit_transaction(                                    # v2 + v2
        [(batch(1), facts_p), (derived(1), der_p)]
    )
    orig = snapshots._publish_txn_table
    calls = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls["n"] += 1
        if calls["n"] == 2:
            raise snapshots.ConcurrentWriteError("injected crash")
        return orig(sp, entry, txn_id, status_path, max_retries)

    snapshots._publish_txn_table = crash_second
    try:
        snapshots.commit_transaction(
            [(batch(2), facts_p), (derived(2), der_p)]
        )
        raise AssertionError("txn2 landed despite the injected crash")
    except snapshots.ConcurrentWriteError:
        pass
    finally:
        snapshots._publish_txn_table = orig

    def facts_arm(name, version, df):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("price_sum"),
        ).select(
            F.lit(name).alias("arm"),
            F.lit(version).cast("long").alias("version"),
            "n_rows", "price_sum",
        )

    def derived_arm(name, version, df):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("total_price"), 6).alias("price_sum"),
        ).select(
            F.lit(name).alias("arm"),
            F.lit(version).cast("long").alias("version"),
            "n_rows", "price_sum",
        )

    cut = snapshots.read_transaction_cut(spark, [facts_p, der_p])
    pre = (
        facts_arm("pre_recover_facts_committed", *cut[facts_p])
        .unionByName(facts_arm(
            "pre_recover_facts_latest_dirty",
            snapshots.latest_version(facts_p),
            snapshots.read_version(spark, facts_p)))
        .unionByName(derived_arm("pre_recover_derived_committed", *cut[der_p]))
    )
    # pin the pending-state reads before recovery mutates the LOG (bytes
    # are never deleted by a roll-forward): ONE collect into an Arrow
    # local relation instead of the old cache()+count() fill (r13)
    pre = local_frame(
        spark, [tuple(r) for rs in collect_batched([pre]) for r in rs],
        "arm string, version long, n_rows long, price_sum double",
    )
    # force: the "crashed" writer is THIS live process (injected fault),
    # so the owner-liveness lease would rightly skip it otherwise
    snapshots.recover_transactions(spark, facts_p, force=True)
    cut = snapshots.read_transaction_cut(spark, [facts_p, der_p])
    post = facts_arm("post_recover_facts_committed", *cut[facts_p]).unionByName(
        derived_arm("post_recover_derived_committed", *cut[der_p]))
    return pre.unionByName(post)


@register(
    "lake_txn_cascade_report",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    ),
    kept AS (SELECT * FROM f WHERE o_custkey % 10 <> 3),
    der_all AS (
      SELECT o_custkey % 10 AS bucket, {dec_sum_sql('o_totalprice')} AS t
      FROM f GROUP BY 1
    ),
    der_kept AS (
      SELECT o_custkey % 10 AS bucket, {dec_sum_sql('o_totalprice')} AS t
      FROM kept GROUP BY 1
    )
    SELECT * FROM (
      SELECT 'pre_facts_committed' AS arm, COUNT(*) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS price_sum FROM f
      UNION ALL
      SELECT 'pre_facts_latest_dirty', COUNT(*),
             {dec_sum_sql('o_totalprice')} FROM kept
      UNION ALL
      SELECT 'pre_derived_committed', COUNT(*),
             {dec_sum_sql('t')} FROM der_all
      UNION ALL
      SELECT 'post_facts_committed', COUNT(*),
             {dec_sum_sql('o_totalprice')} FROM kept
      UNION ALL
      SELECT 'post_derived_committed', COUNT(*),
             {dec_sum_sql('t')} FROM der_kept
      UNION ALL
      SELECT 'facts_dv_zero_rewrites', CAST(1 AS BIGINT), CAST(0 AS DOUBLE)
    )
    """,
    doc="ATOMIC DELETE CASCADE across tables (r12 — transactions beyond "
    "append-only): one commit_transaction carries a merge-on-read "
    "DV-DELETE member on the fact table (positions resolved at stage "
    "time, ZERO files rewritten — the facts_dv_zero_rewrites arm pins "
    "the v1 and post-delete file lists identical) and a copy-on-write "
    "REWRITE member rebuilding the derived rollup, the right-to-be- "
    "forgotten shape a medallion lake needs atomic.  The graded run "
    "injects a crash BETWEEN the two publishes: committed reads of both "
    "tables hold the pre-cascade cut (the fact table's pending DV "
    "version is skipped, while the plain latest read already shows the "
    "deletes — the documented read-uncommitted arm); "
    "recover_transactions(force) rolls the log FORWARD from the durable "
    "staged position sets and replacement files, after which the deleted "
    "customer bucket is gone from BOTH tables together.  Conflict rules "
    "per member are the standalone ones (delete_where_dv's DV rebase, "
    "commit_rewrite_with_retry's dropped/unseen checks — conservative "
    "file-set form on recovery, where the predicate callable is gone).  "
    "Abort / no-op-member / recovery-conflict arms pinned in "
    "tests/test_snapshots.py.  Reference anchor: update/app.py:877-958 + "
    "447-607 (SURVEY I4+I5, done atomically).",
)
def lake_txn_cascade_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    facts_p, der_p = scratch_dir("txc", sf_dir), scratch_dir("txcd", sf_dir)
    f_rows = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    bucket = (F.col("o_custkey") % 10).alias("bucket")

    def derived(src):
        return src.groupBy(bucket).agg(
            dec_sum(F.col("o_totalprice")).alias("t")
        )

    snapshots.commit(f_rows.repartitionByRange(4, "o_orderkey"), facts_p)  # v1
    snapshots.commit(derived(f_rows).coalesce(1), der_p)                   # v1
    files_v1 = set(snapshots.read_manifest(facts_p, 1)["files"])

    forget = F.col("o_custkey") % 10 == 3
    kept = f_rows.where(~forget)
    orig = snapshots._publish_txn_member
    calls = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls["n"] += 1
        if calls["n"] == 2:
            raise snapshots.ConcurrentWriteError("injected crash")
        return orig(sp, entry, txn_id, status_path, max_retries)

    snapshots._publish_txn_member = crash_second
    try:
        snapshots.commit_transaction([
            {"op": "delete_dv", "path": facts_p, "predicate": forget},
            {"op": "rewrite", "path": der_p, "df": derived(kept).coalesce(1),
             "replace": lambda f: True},
        ], spark=spark)
        raise AssertionError("cascade landed despite the injected crash")
    except snapshots.ConcurrentWriteError:
        pass
    finally:
        snapshots._publish_txn_member = orig

    def facts_arm(name, df):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("o_totalprice")).alias("price_sum"),
        ).select(F.lit(name).alias("arm"), "n_rows", "price_sum")

    def derived_arm(name, df):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("t"), 6).alias("price_sum"),
        ).select(F.lit(name).alias("arm"), "n_rows", "price_sum")

    pre = (
        facts_arm("pre_facts_committed",
                  snapshots.read_version_committed(spark, facts_p))
        .unionByName(facts_arm(
            "pre_facts_latest_dirty", snapshots.read_version(spark, facts_p)))
        .unionByName(derived_arm(
            "pre_derived_committed",
            snapshots.read_version_committed(spark, der_p)))
    )
    # pin the pending-state reads before recovery mutates the LOG (bytes
    # are never deleted by a roll-forward): ONE collect into an Arrow
    # local relation instead of the old cache()+count() fill (r13)
    pre = local_frame(
        spark, [tuple(r) for rs in collect_batched([pre]) for r in rs],
        "arm string, n_rows long, price_sum double",
    )
    # force: the "crashed" writer is THIS live process (injected fault)
    snapshots.recover_transactions(spark, facts_p, force=True)
    files_post = set(
        snapshots.read_manifest(facts_p, snapshots.latest_version(facts_p))["files"]
    )
    post = (
        facts_arm("post_facts_committed",
                  snapshots.read_version_committed(spark, facts_p))
        .unionByName(derived_arm(
            "post_derived_committed",
            snapshots.read_version_committed(spark, der_p)))
        .unionByName(local_frame(spark, 
            [("facts_dv_zero_rewrites", int(files_post == files_v1), 0.0)],
            "arm string, n_rows long, price_sum double",
        ))
    )
    return pre.unionByName(post)


@register(
    "lake_row_lineage_report",
    oracle=f"""
    WITH ids AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders
    )
    SELECT bucket, n_rows, pre_sum, post_sum, id_sum FROM (
      SELECT 'updated' AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('o_totalprice')} AS pre_sum,
             {dec_sum_sql('o_totalprice * 2')} AS post_sum,
             CAST(SUM(rid) AS BIGINT) AS id_sum
      FROM ids WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT 'unchanged', CAST(COUNT(*) AS BIGINT),
             {dec_sum_sql('o_totalprice')}, {dec_sum_sql('o_totalprice')},
             CAST(SUM(rid) AS BIGINT)
      FROM ids WHERE o_orderkey % 10 <> 0
    )
    """,
    doc="ROW LINEAGE ACROSS AN UPDATE (r11; the preserved-row-tracking "
    "payoff): pre- and post-update snapshots are read with their stable "
    "_row_id and JOINED ON THE ID — not the business key — pairing each "
    "row's two states.  update_where_dv materializes the pre-image ids "
    "into its post-image files, so the id-join pairs every row exactly "
    "once: updated rows show post = 2x pre, unchanged rows show post = "
    "pre, and the id sums prove the identity set is THE SAME on both "
    "sides (no id minted, none lost).  At 100 TB this is the audit-trail "
    "contract: an incremental consumer keyed on _row_id follows a row "
    "through updates without knowing the business key.",
)
def lake_row_lineage_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("rl", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice"
    )
    snapshots.commit(
        orders.repartition(1).sortWithinPartitions("o_orderkey"), root
    )                                                            # v1
    snapshots.enable_row_tracking(root)                          # v2
    snapshots.update_where_dv(                                   # v3
        spark, root, F.col("o_orderkey") % 10 == 0,
        {"o_totalprice": F.col("o_totalprice") * 2},
    )
    pre = snapshots.read_version_row_ids(spark, root, 2).select(
        "_row_id", F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("pre_price"),
    )
    post = snapshots.read_version_row_ids(spark, root, 3).select(
        "_row_id", F.col("o_totalprice").alias("post_price"),
    )
    return (
        pre.join(post, "_row_id")
        .withColumn(
            "bucket",
            F.when(F.col("k") % 10 == 0, F.lit("updated"))
            .otherwise(F.lit("unchanged")),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("pre_price")).alias("pre_sum"),
            dec_sum(F.col("post_price")).alias("post_sum"),
            F.sum("_row_id").cast("long").alias("id_sum"),
        )
    )


@register(
    "lake_cdf_row_lineage_report",
    oracle=f"""
    WITH a AS (SELECT o_orderkey AS k, o_totalprice AS p,
                      ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
               FROM orders WHERE o_orderkey % 2 = 0),
    b AS (SELECT o_orderkey AS k, o_totalprice AS p,
                 (SELECT COUNT(*) FROM a)
                 + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
          FROM orders WHERE o_orderkey % 2 = 1),
    ab AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT change_type, n_rows, id_sum, price_sum FROM (
      SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(rid) AS BIGINT) AS id_sum,
             {dec_sum_sql('p')} AS price_sum
      FROM b
      UNION ALL
      SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), {dec_sum_sql('p')}
      FROM ab WHERE k % 10 = 0
      UNION ALL
      SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), {dec_sum_sql('p * 2')}
      FROM ab WHERE k % 10 = 0
      UNION ALL
      SELECT 'delete', CAST(COUNT(*) AS BIGINT), CAST(SUM(rid) AS BIGINT),
             {dec_sum_sql("CASE WHEN k % 10 = 0 THEN p * 2 ELSE p END")}
      FROM ab WHERE k % 7 = 0
      UNION ALL
      SELECT 'update_pairing', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), CAST(0.0 AS DOUBLE)
      FROM ab WHERE k % 10 = 0
    )
    """,
    doc="CHANGE FEED WITH ROW LINEAGE (r11 — CDF + row tracking, the "
    "contract on Delta's roadmap): every O(Δ)-dispatched change row "
    "carries the stable _row_id, so the consumer pairs an update's pre- "
    "and post-image BY IDENTITY (the update_pairing arm joins the two "
    "sides on _row_id and grades post - 2*pre summing to exactly zero), "
    "follows an updated-then-deleted row across commits (the delete arm's "
    "price reflects the v4 update for keys hit by both predicates), and "
    "sees the trailing z-ordered OPTIMIZE as ZERO change rows — layout "
    "moved, identity did not (graded implicitly: any optimize-emitted row "
    "would break every arm's counts).  Pre-images are read raw from ONLY "
    "the newly-vectored files (the _transition_feed discipline) with ids "
    "attached from the manifest base map or the materialized column.",
)
def lake_cdf_row_lineage_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("cfl", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice"
    )

    def slice_sorted(r):
        return (
            orders.where(F.col("o_orderkey") % 2 == r)
            .repartition(1).sortWithinPartitions("o_orderkey")
        )

    snapshots.commit(slice_sorted(0), root)                      # v1
    snapshots.enable_row_tracking(root)                          # v2
    snapshots.commit(slice_sorted(1), root)                      # v3
    snapshots.update_where_dv(                                   # v4
        spark, root, F.col("o_orderkey") % 10 == 0,
        {"o_totalprice": F.col("o_totalprice") * 2},
    )
    snapshots.delete_where_dv(spark, root, F.col("o_orderkey") % 7 == 0)  # v5
    snapshots.optimize(spark, root, target_files=2, zorder_by=["o_orderkey"])  # v6
    # the feed pipeline (manifest-dispatched per-transition scans + by-id
    # diffs) has THREE consumers below (per_type, pre, post), which the
    # final plan runs as CONCURRENT stage-jobs — without materialization
    # each consumer re-executes the whole feed (measured as 3x ~1 s
    # single-task jobs).  materialize_once runs the Δ-sized feed ONCE
    # through the normal AQE path (r13: cluster-safe persist fallback); a
    # lazy persist() instead makes the racing consumers each compute the
    # cold cache (6.1 -> 39 s), and bare persist+count materializes
    # WITHOUT AQE coalescing — 66-task stages, 24 s.
    feed = materialize_once(snapshots.change_feed_row_ids(spark, root, 2, 6))
    per_type = feed.groupBy("change_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("_row_id").cast("long").alias("id_sum"),
        dec_sum(F.col("o_totalprice")).alias("price_sum"),
    )
    pre = feed.where(F.col("change_type") == "update_preimage").select(
        "_row_id", F.col("o_totalprice").alias("pre_p")
    )
    post = feed.where(F.col("change_type") == "update_postimage").select(
        "_row_id", F.col("o_totalprice").alias("post_p")
    )
    pairing = (
        pre.join(post, "_row_id")
        .agg(
            F.lit("update_pairing").alias("change_type"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("_row_id").cast("long").alias("id_sum"),
            dec_sum(F.col("post_p") - 2 * F.col("pre_p")).alias("price_sum"),
        )
        .select("change_type", "n_rows", "id_sum", "price_sum")
    )
    return per_type.unionByName(pairing)


@register(
    "lake_cdf_merge_lineage_report",
    oracle=f"""
    WITH f AS (SELECT o_orderkey AS k, o_totalprice AS p,
                      ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
               FROM orders WHERE o_orderstatus = 'F'),
    newk AS (SELECT o_orderkey AS k, o_totalprice AS p,
                    (SELECT COUNT(*) FROM f)
                    + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
             FROM orders WHERE o_orderstatus = 'P' AND o_orderkey % 3 = 0),
    m AS (SELECT * FROM f WHERE k % 5 = 1)
    SELECT change_type, n_rows, id_sum, price_sum FROM (
      SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(rid) AS BIGINT) AS id_sum,
             {dec_sum_sql('p')} AS price_sum
      FROM newk
      UNION ALL
      SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), {dec_sum_sql('p')} FROM m
      UNION ALL
      SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), {dec_sum_sql('p * 3')} FROM m
      UNION ALL
      SELECT 'update_pairing', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), CAST(0.0 AS DOUBLE) FROM m
      UNION ALL
      SELECT 'matched_identity_stable', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(rid) AS BIGINT), {dec_sum_sql('p * 3')} FROM m
      UNION ALL
      SELECT 'watermark', CAST(1 AS BIGINT),
             (SELECT COUNT(*) FROM f) + (SELECT COUNT(*) FROM newk),
             CAST(0.0 AS DOUBLE)
    )
    """,
    doc="PRESERVED ROW TRACKING THROUGH CoW MERGE (r12 — the Delta "
    "'preserved' feature bit, closing VERDICT r11 missing #5): "
    "merge_upsert on a tracked table threads survivor ids through the "
    "lineage scan, a matched key's delta row INHERITS the pre-image "
    "identity, and only genuinely new keys mint fresh ids at the "
    "watermark (in key order — the oracle reproduces the exact id "
    "values analytically).  change_feed_row_ids CROSSES the merge as a "
    "by-identity diff of the touched files: unchanged survivors emit "
    "ZERO rows (graded implicitly — any survivor row breaks every "
    "count), the replaced rows pair as update pre/post ON THE SAME id "
    "(update_pairing grades post - 3*pre = 0 by identity join), new "
    "keys are inserts at analytically-known ids, and the "
    "matched_identity_stable arm re-reads the LIVE table proving the "
    "matched keys kept their pre-merge identities.  The watermark arm "
    "pins the mint advance (|F| + |new|) so racing appenders stay "
    "disjoint.  Reference: Delta row-tracking 'preserved' contract; "
    "anchor security_master.py:553-601 (assignment join-back, J7).",
)
def lake_cdf_merge_lineage_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("cml", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_rows = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    snapshots.commit(
        f_rows.repartition(1).sortWithinPartitions("o_orderkey"), root
    )                                                            # v1
    snapshots.enable_row_tracking(root)                          # v2
    delta = (
        f_rows.where(F.col("o_orderkey") % 5 == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .unionByName(
            orders.where(
                (F.col("o_orderstatus") == "P")
                & (F.col("o_orderkey") % 3 == 0)
            ).select("o_orderkey", "o_totalprice")
        )
    )
    snapshots.merge_upsert(spark, root, delta, key="o_orderkey")  # v3
    # three consumers of the Δ-sized feed (per_type, pre, post) run as
    # concurrent stage-jobs: materialize_once runs the by-identity merge
    # diff ONCE instead of once per racing consumer (persist() variants
    # measured and rejected — see the row-lineage twin)
    feed = materialize_once(snapshots.change_feed_row_ids(spark, root, 2, 3))
    per_type = feed.groupBy("change_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("_row_id").cast("long").alias("id_sum"),
        dec_sum(F.col("o_totalprice")).alias("price_sum"),
    )
    pre = feed.where(F.col("change_type") == "update_preimage").select(
        "_row_id", F.col("o_totalprice").alias("pre_p")
    )
    post = feed.where(F.col("change_type") == "update_postimage").select(
        "_row_id", F.col("o_totalprice").alias("post_p")
    )
    pairing = (
        pre.join(post, "_row_id")
        .agg(
            F.lit("update_pairing").alias("change_type"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("_row_id").cast("long").alias("id_sum"),
            dec_sum(F.col("post_p") - 3 * F.col("pre_p")).alias("price_sum"),
        )
        .select("change_type", "n_rows", "id_sum", "price_sum")
    )
    stable = (
        snapshots.read_version_row_ids(spark, root)
        .where(F.col("o_orderkey") % 5 == 1)
        .join(f_rows.select("o_orderkey"), "o_orderkey", "left_semi")
        .agg(
            F.lit("matched_identity_stable").alias("change_type"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("_row_id").cast("long").alias("id_sum"),
            dec_sum(F.col("o_totalprice")).alias("price_sum"),
        )
        .select("change_type", "n_rows", "id_sum", "price_sum")
    )
    wm = snapshots.read_manifest(
        root, snapshots.latest_version(root)
    )["row_id_watermark"]
    wm_arm = local_frame(spark, 
        [("watermark", 1, int(wm), 0.0)],
        "change_type string, n_rows long, id_sum long, price_sum double",
    )
    return per_type.unionByName(pairing).unionByName(stable).unionByName(wm_arm)


@register(
    "lake_null_skipping_report",
    oracle=f"""
    WITH tagged AS (
      SELECT o_orderkey AS k, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  WHEN o_orderkey % 3 = 1 THEN CAST(o_orderdate AS VARCHAR)
                  WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(o_orderdate AS VARCHAR) END AS note
      FROM orders
    )
    SELECT 'is_null' AS arm, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_sql('o_totalprice')} AS total_price,
           CAST(3 AS BIGINT) AS files_total, CAST(2 AS BIGINT) AS files_scanned
    FROM tagged WHERE note IS NULL
    UNION ALL
    SELECT 'not_null', CAST(COUNT(*) AS BIGINT), {dec_sum_sql('o_totalprice')},
           CAST(3 AS BIGINT), CAST(2 AS BIGINT)
    FROM tagged WHERE note IS NOT NULL
    UNION ALL
    SELECT 'range_keeps_all_null', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(3 AS BIGINT), CAST(1 AS BIGINT)
    FROM tagged WHERE note >= 'D'
    UNION ALL
    SELECT 'is_null_post_append', CAST(COUNT(*) AS BIGINT),
           {dec_sum_sql('o_totalprice')}, CAST(4 AS BIGINT), CAST(2 AS BIGINT)
    FROM tagged WHERE note IS NULL
    """,
    doc="NULL-COUNT data skipping (the Delta nullCount stats rule; stats "
    "widened from [min,max] to [min,max,null_count,file_rows] in one "
    "footer pass, snapshots._file_stats).  Three one-file commits with "
    "controlled null placement — an ALL-NULL note file, a no-null file, a "
    "mixed file — then read_version_where's is_null/not_null atoms cut "
    "the file list from the KB manifest: IS NULL opens 2/3 (skips the "
    "no-null file), IS NOT NULL opens 2/3 (skips the all-null file), "
    "while min/max range pruning must conservatively KEEP the all-null "
    "file (it records no range at all — before null counts it was "
    "invisible to every skip).  "
    "A fourth commit WITHOUT stats_cols proves the index is maintained "
    "automatically (Delta table-property discipline): IS NULL still opens "
    "exactly 2/4.  files_total/files_scanned are graded as exact values "
    "against the oracle's analytic counts; the content columns hash "
    "against the base table, so a wrongly skipped file drops rows and "
    "reds the arm.",
)
def lake_null_skipping_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("nullskip", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    key = F.col("o_orderkey")
    null_s = F.lit(None).cast("string")
    note_val = F.col("o_orderdate").cast("string")  # ISO '1996-01-02', < 'D'
    groups = [
        orders.where(key % 3 == 0).withColumn("note", null_s),
        orders.where(key % 3 == 1).withColumn("note", note_val),
        orders.where(key % 3 == 2).withColumn(
            "note", F.when(key % 7 == 0, null_s).otherwise(note_val)
        ),
    ]
    for g in groups:
        snapshots.commit(
            g.select("o_orderkey", "o_totalprice", "note").coalesce(1),
            root,
            stats_cols=["note"],
        )

    def arm(name, frame, info, predicate):
        return (
            frame.where(predicate)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("o_totalprice")).alias("total_price"),
            )
            .select(
                F.lit(name).alias("arm"), "n_rows", "total_price",
                F.lit(info["files_total"]).cast("long").alias("files_total"),
                F.lit(info["files_scanned"]).cast("long").alias("files_scanned"),
            )
        )

    nul, i1 = snapshots.read_version_where(spark, root, [{"col": "note", "op": "is_null"}])
    nn, i2 = snapshots.read_version_where(spark, root, [{"col": "note", "op": "not_null"}])
    # range pruning on the same column: both real-note files' max (Clerk#…)
    # sits below 'D', so they prune — but the all-null file has NO recorded
    # range and must be conservatively kept (files_scanned exactly 1).
    rng, i3 = snapshots.read_version_pruned(spark, root, "note", lo="D")
    # maintenance: a commit WITHOUT stats_cols re-collects the previously
    # indexed columns for its new file — the no-null appendix file must be
    # skipped by the next IS NULL read without anyone re-asking for stats.
    # The pre-commit frames above stay valid lazily: appends never remove
    # files, and each pruned read captured its file list eagerly.
    appendix = (
        orders.where(key % 3 == 0)
        .withColumn("note", note_val)
        .select("o_orderkey", "o_totalprice", "note")
    )
    snapshots.commit(appendix.coalesce(1), root)
    nul2, i4 = snapshots.read_version_where(spark, root, [{"col": "note", "op": "is_null"}])
    return (
        arm("is_null", nul, i1, F.col("note").isNull())
        .unionByName(arm("not_null", nn, i2, F.col("note").isNotNull()))
        .unionByName(arm("range_keeps_all_null", rng, i3, F.col("note") >= "D"))
        .unionByName(arm("is_null_post_append", nul2, i4, F.col("note").isNull()))
    )


@register(
    "lake_skipping_matrix_report",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey % 1000 AS kb, o_totalprice AS p,
             CASE WHEN o_orderkey % 1000 BETWEEN 250 AND 499 THEN NULL
                  ELSE 'x' END AS note,
             'f' || CAST((o_orderkey % 1000) // 250 + 1 AS VARCHAR) || '_'
                 || CAST((o_orderkey % 1000) % 7 AS VARCHAR) AS tag
      FROM orders
    )
    SELECT arm, files_total, files_scanned, n_rows, total_price FROM (
      SELECT 'range_only' AS arm, CAST(4 AS BIGINT) AS files_total,
             CAST(2 AS BIGINT) AS files_scanned,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {dec_sum_sql('p')} AS total_price
      FROM t WHERE kb BETWEEN 300 AND 600
      UNION ALL
      SELECT 'notnull_only', 4, 3, CAST(COUNT(*) AS BIGINT), {dec_sum_sql('p')}
      FROM t WHERE note IS NOT NULL
      UNION ALL
      SELECT 'bloom_only', 4, 1, CAST(COUNT(*) AS BIGINT), {dec_sum_sql('p')}
      FROM t WHERE tag = 'f3_2'
      UNION ALL
      SELECT 'composed_range_null', 4, 1, CAST(COUNT(*) AS BIGINT),
             {dec_sum_sql('p')}
      FROM t WHERE kb BETWEEN 300 AND 600 AND note IS NOT NULL
      UNION ALL
      SELECT 'composed_all', 4, 1, CAST(COUNT(*) AS BIGINT), {dec_sum_sql('p')}
      FROM t WHERE kb BETWEEN 300 AND 999 AND note IS NOT NULL
                   AND tag = 'f4_3'
    )
    """,
    doc="UNIFIED DATA-SKIPPING PLANNER (r12 — VERDICT r11 #5): "
    "read_version_where composes every manifest cut — min/max range, "
    "null-count, bloom — CONJUNCTIVELY in one driver pass before any "
    "file opens, where the standalone readers each apply one cut.  Four "
    "one-file commits with controlled key ranges (kb quartiles), null "
    "placement (one all-null-note file), and a bloom-indexed per-file "
    "tag.  Graded files_scanned per arm: range alone keeps 2/4, "
    "null-count alone 3/4, bloom alone 1/4 — and the COMPOSED range+"
    "not-null cut keeps exactly 1/4, strictly beating both of its "
    "component cuts (the compound-predicate win the three separate "
    "entry points could not express); the 3-atom arm threads a bloom "
    "probe through the same conjunction.  Every arm's content columns "
    "hash against the oracle's full-table filter, so a wrongly skipped "
    "file drops rows and reds the arm.  The between/eq atoms also apply "
    "the implied NOT-NULL cut (SQL range semantics) — range stats alone "
    "cannot drop an all-null file because it records no range at all.",
)
def lake_skipping_matrix_q(spark, sf_dir):
    from us_equity_datalake_spark.sources import snapshots

    root = scratch_dir("skipmx", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice"
    )
    kb = (F.col("o_orderkey") % 1000).alias("kb")
    t = orders.select(
        kb, F.col("o_totalprice").alias("p")
    ).withColumn(
        "note",
        F.when(F.col("kb").between(250, 499), F.lit(None).cast("string"))
        .otherwise(F.lit("x")),
    ).withColumn(
        "tag",
        F.concat(
            F.lit("f"), (F.floor(F.col("kb") / 250) + 1).cast("int").cast("string"),
            F.lit("_"), (F.col("kb") % 7).cast("string"),
        ),
    )
    for i in range(4):
        part = t.where(F.floor(F.col("kb") / 250) == i).coalesce(1)
        snapshots.commit(
            part, root,
            stats_cols=["kb", "note"] if i == 0 else None,
            bloom_cols=["tag"] if i == 0 else None,
        )

    def arm(name, pruned, info, row_pred):
        return (
            pruned.where(row_pred)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                dec_sum(F.col("p")).alias("total_price"),
            )
            .select(
                F.lit(name).alias("arm"),
                F.lit(info["files_total"]).cast("long").alias("files_total"),
                F.lit(info["files_scanned"]).cast("long").alias("files_scanned"),
                "n_rows", "total_price",
            )
        )

    rng, i1 = snapshots.read_version_pruned(spark, root, "kb", lo=300, hi=600)
    nn, i2 = snapshots.read_version_where(spark, root, [{"col": "note", "op": "not_null"}])
    blm, i3 = snapshots.read_version_point(spark, root, "tag", "f3_2")
    c1, i4 = snapshots.read_version_where(spark, root, [
        {"col": "kb", "op": "between", "lo": 300, "hi": 600},
        {"col": "note", "op": "not_null"},
    ])
    c2, i5 = snapshots.read_version_where(spark, root, [
        {"col": "kb", "op": "between", "lo": 300, "hi": 999},
        {"col": "note", "op": "not_null"},
        {"col": "tag", "op": "eq", "value": "f4_3"},
    ])
    in_range = F.col("kb").between(300, 600)
    return (
        arm("range_only", rng, i1, in_range)
        .unionByName(arm("notnull_only", nn, i2, F.col("note").isNotNull()))
        .unionByName(arm("bloom_only", blm, i3, F.col("tag") == "f3_2"))
        .unionByName(arm("composed_range_null", c1, i4,
                         in_range & F.col("note").isNotNull()))
        .unionByName(arm("composed_all", c2, i5,
                         F.col("kb").between(300, 999)
                         & F.col("note").isNotNull()
                         & (F.col("tag") == "f4_3")))
    )
