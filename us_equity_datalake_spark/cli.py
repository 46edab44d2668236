"""Console entry points (reference update/cli.py, consolidate/cli.py,
storage/cli.py — the operator-facing surface).

Subcommands over the library, among them:

    python -m us_equity_datalake_spark.cli update   --lake ... --date ... [inputs]
    python -m us_equity_datalake_spark.cli compact  --lake ... --table ... --predicate ...
    python -m us_equity_datalake_spark.cli backfill --lake ... --from ... --to ... [inputs]
    python -m us_equity_datalake_spark.cli ticks    --lake ... --symbol ... (--start ... --end ... | --as-of ...)

Inputs are parquet paths already landed by the ingest edge (this CLI is pure
compute + lake writes, like equity.daily_job).  Backfill loops
``run_daily_update`` over the date range — each day idempotent, so a crashed
backfill re-runs from the start safely (reference MAX_BACKFILL_DAYS guard
kept).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

MAX_BACKFILL_DAYS = 30


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="us-equity-datalake-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    upd = sub.add_parser("update", help="run the daily incremental update")
    upd.add_argument("--lake", required=True, help="lake root directory")
    upd.add_argument("--date", help="target date YYYY-MM-DD (default: yesterday)")
    upd.add_argument("--universe", help="parquet path: universe snapshot")
    upd.add_argument("--figi", help="parquet path: (symbol, figi) map for lifecycle rules")
    upd.add_argument("--ticks", help="parquet path: daily ticks batch")
    upd.add_argument("--fundamental", help="parquet path: raw fundamental datapoints")
    upd.add_argument("--filings", help="parquet path: the day's filings")
    upd.add_argument("--filings-feed", help="parquet path: submissions feed for the I2 lookback")
    upd.add_argument("--calendar", help="parquet path: trading calendar (market-open gate)")
    upd.add_argument("--lookback", type=int, default=7, help="filing lookback days (default 7)")

    bf = sub.add_parser("backfill", help="run updates over a date range")
    bf.add_argument("--lake", required=True)
    bf.add_argument("--backfill-from", required=True, dest="start", help="YYYY-MM-DD")
    bf.add_argument("--date", required=True, dest="end", help="YYYY-MM-DD (inclusive end)")
    for flag in ("--universe", "--figi", "--ticks", "--fundamental", "--filings", "--filings-feed", "--calendar"):
        bf.add_argument(flag)
    bf.add_argument("--lookback", type=int, default=7)

    cp = sub.add_parser("compact", help="rewrite partitions into few large files")
    cp.add_argument("--lake", required=True)
    cp.add_argument("--table", required=True, help="table path relative to the lake root")
    cp.add_argument("--predicate", required=True, help="partition predicate, e.g. \"year = 2024\"")
    cp.add_argument("--partition-by", required=True, help="comma-separated partition columns")
    cp.add_argument("--target-files", type=int, default=1)

    cy = sub.add_parser(
        "consolidate", help="move a completed year from hot monthly files into history"
    )
    cy.add_argument("--lake", required=True)
    cy.add_argument("--hot", required=True, help="hot table path relative to the lake root")
    cy.add_argument("--history", required=True, help="history table path relative to the lake root")
    cy.add_argument("--year", required=True, type=int, help="year to consolidate (e.g., 2025)")
    cy.add_argument("--force", action="store_true", help="overwrite a year already in history")

    tk = sub.add_parser(
        "ticks", help="daily ticks of a symbol across symbol changes (hot + history)"
    )
    tk.add_argument("--lake", required=True)
    tk.add_argument("--symbol", required=True)
    when = tk.add_mutually_exclusive_group(required=True)
    when.add_argument("--start", help="YYYY-MM-DD; with --end: the calendar-aligned range")
    when.add_argument("--as-of", dest="as_of",
                      help="YYYY-MM-DD: whole history of the security trading as SYMBOL then")
    tk.add_argument("--end", help="YYYY-MM-DD (inclusive end of --start)")
    tk.add_argument("--history", default=os.path.join("raw", "ticks", "history"),
                    help="consolidated history path relative to the lake root "
                         "(default raw/ticks/history)")

    # snapshot-table admin surface (sources/snapshots.py) — the Delta-style
    # operational verbs an operator runs against a versioned table
    tb = sub.add_parser("table", help="snapshot-table admin (history/delete/update/optimize/vacuum/...)")
    tsub = tb.add_subparsers(dest="table_cmd", required=True)

    th = tsub.add_parser("history", help="DESCRIBE HISTORY (one JSON row per version)")
    th.add_argument("--path", required=True, help="snapshot table root")

    tc = tsub.add_parser("count", help="metadata-only COUNT(*) (zero jobs)")
    tc.add_argument("--path", required=True)
    tc.add_argument("--version", type=int)

    td = tsub.add_parser("delete", help="DELETE FROM ... WHERE (DV by default; --rewrite for copy-on-write)")
    td.add_argument("--path", required=True)
    td.add_argument("--where", required=True, help="SQL predicate, e.g. \"status = 'F'\"")
    td.add_argument("--rewrite", action="store_true", help="copy-on-write instead of deletion vectors")

    tu = tsub.add_parser("update", help="UPDATE ... SET ... WHERE (merge-on-read)")
    tu.add_argument("--path", required=True)
    tu.add_argument("--where", required=True, help="SQL predicate")
    tu.add_argument("--set", required=True, dest="assignments",
                    help="comma-separated col=SQL-expr, e.g. \"price=price*1.1,flag='Y'\"")

    tp = tsub.add_parser("purge-dv", help="materialize deletion vectors (REORG APPLY PURGE)")
    tp.add_argument("--path", required=True)

    to = tsub.add_parser("optimize", help="OPTIMIZE: compact to N files, optional z-order")
    to.add_argument("--path", required=True)
    to.add_argument("--target-files", type=int, default=1)
    to.add_argument("--zorder-by", help="comma-separated clustering columns")

    tv = tsub.add_parser("vacuum", help="expire history (clone- and DV-pinning aware)")
    tv.add_argument("--path", required=True)
    tv.add_argument("--keep-last", type=int, default=1)

    tr = tsub.add_parser("rollback", help="RESTORE to an older version (new manifest, no data move)")
    tr.add_argument("--path", required=True)
    tr.add_argument("--to-version", type=int, required=True)

    tcl = tsub.add_parser("clone", help="zero-copy shallow clone (registers a vacuum pin)")
    tcl.add_argument("--path", required=True, help="source table root")
    tcl.add_argument("--dest", required=True, help="clone target root")
    tcl.add_argument("--version", type=int, help="source version (default latest)")

    trn = tsub.add_parser(
        "rename-column",
        help="RENAME COLUMN via column mapping (metadata-only, zero rewrites)",
    )
    trn.add_argument("--path", required=True)
    trn.add_argument("--old", required=True, help="current logical column name")
    trn.add_argument("--new", required=True, help="new logical column name")

    tdc = tsub.add_parser(
        "drop-column",
        help="DROP COLUMN via column mapping (metadata-only, zero rewrites)",
    )
    tdc.add_argument("--path", required=True)
    tdc.add_argument("--column", required=True, help="logical column to drop")

    tac = tsub.add_parser(
        "add-constraint",
        help="ALTER TABLE ADD CONSTRAINT (validates existing data first)",
    )
    tac.add_argument("--path", required=True)
    tac.add_argument("--name", required=True)
    tac.add_argument("--check", required=True, help="SQL predicate, e.g. \"price >= 0\"")

    tdcn = tsub.add_parser("drop-constraint", help="ALTER TABLE DROP CONSTRAINT")
    tdcn.add_argument("--path", required=True)
    tdcn.add_argument("--name", required=True)

    trx = tsub.add_parser(
        "recover-txns",
        help="repair crashed multi-table transactions (roll forward or abort)",
    )
    trx.add_argument("--path", required=True, help="coordinator table root")
    trx.add_argument("--force", action="store_true",
                     help="bypass the owner-liveness and age leases "
                          "(only when the writer is known dead)")
    trx.add_argument("--min-age", type=float, default=300.0,
                     help="skip pending txns younger than this many "
                          "seconds (cross-host lease; default 300)")

    tab = tsub.add_parser(
        "abort-txn",
        help="operator abort for a wedged pending transaction",
    )
    tab.add_argument("--path", required=True, help="coordinator table root")
    tab.add_argument("--txn-id", required=True)
    tab.add_argument("--rollback-published", action="store_true",
                     help="roll back tables the txn already published "
                          "(refused if later commits rebased on top)")

    trt = tsub.add_parser(
        "enable-row-tracking",
        help="assign stable row ids (metadata-only backfill, zero rewrites)",
    )
    trt.add_argument("--path", required=True)

    twh = tsub.add_parser(
        "where",
        help="unified data-skipping plan: compose range/null/bloom cuts "
        "over a conjunctive predicate, report the file-list decision",
    )
    twh.add_argument("--path", required=True)
    twh.add_argument("--atoms", required=True,
                     help="JSON list of atoms, op one of range (min/max only), "
                          "between (range + not null), eq, is_null, not_null; "
                          'e.g. \'[{"col":"v","op":"between",'
                          '"lo":1,"hi":9},{"col":"k","op":"not_null"}]\'')
    twh.add_argument("--count", action="store_true",
                     help="also run the pruned scan and print its row count")

    tcf = tsub.add_parser(
        "change-feed",
        help="row-level change feed between versions (O(Δ) dispatch; one "
        "JSON line per change row)",
    )
    tcf.add_argument("--path", required=True)
    tcf.add_argument("--from", required=True, type=int, dest="v_from")
    tcf.add_argument("--to", required=True, type=int, dest="v_to")
    tcf.add_argument("--key", required=True, help="row-identity column")

    return p


def backfill_dates(start: str, end: str, *, max_days: int = MAX_BACKFILL_DAYS) -> list[str]:
    """Inclusive date range with the reference's MAX_BACKFILL_DAYS guard."""
    s, e = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
    span = (e - s).days
    if span < 0:
        raise ValueError(f"--backfill-from {start} is after --date {end}")
    if span > max_days:
        raise ValueError(f"backfill range {span} days exceeds max {max_days}")
    return [(s + dt.timedelta(days=i)).isoformat() for i in range(span + 1)]


def _load(spark, path):
    return spark.read.parquet(path) if path else None


def _run_update(spark, args, target_date: str) -> dict:
    from us_equity_datalake_spark.equity.daily_job import LakePaths, run_daily_update

    return run_daily_update(
        spark,
        LakePaths(args.lake),
        target_date=target_date,
        universe_snapshot=_load(spark, args.universe),
        figi_map=_load(spark, args.figi),
        ticks_batch=_load(spark, args.ticks),
        fundamental_raw=_load(spark, args.fundamental),
        filings=_load(spark, args.filings),
        filings_feed=_load(spark, args.filings_feed),
        lookback_days=args.lookback,
        calendar=_load(spark, args.calendar),
    )


def _run_ticks(spark, args) -> None:
    """The reference's TicksClient reads: one JSON line per daily row."""
    from us_equity_datalake_spark.equity import ticks
    from us_equity_datalake_spark.equity.daily_job import LakePaths

    lake = LakePaths(args.lake)
    bars = ticks.read_hot_cold(spark, lake.ticks_daily, os.path.join(args.lake, args.history))
    master = spark.read.parquet(lake.security_master)
    if args.as_of:
        out = ticks.read_daily_history(spark, bars, master, symbol=args.symbol, as_of=args.as_of)
    else:
        out = ticks.read_daily_ticks(
            spark, bars, master, symbol=args.symbol, start=args.start, end=args.end,
            calendar=ticks.trading_calendar_spine(spark, args.start, args.end),
        )
    for line in out.toJSON().toLocalIterator():
        print(line)


def _parse_assignments(spec: str) -> dict:
    """``col=SQL-expr`` pairs (expr kept as its SQL string), split on
    TOP-LEVEL commas (commas inside parens/quotes belong to the expr)."""
    out, buf, depth, quote = {}, [], 0, None
    parts = []
    for ch in spec:
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf))
    for part in parts:
        col, _, expr = part.partition("=")
        if not _:
            raise ValueError(f"--set entry missing '=': {part!r}")
        out[col.strip()] = expr.strip()
    return out


def _run_table_cmd(spark, args) -> int:
    from pyspark.sql import functions as F

    from us_equity_datalake_spark.sources import snapshots as S

    cmd = args.table_cmd
    if cmd == "history":
        for row in S.history(args.path):
            print(json.dumps(row, default=str))
    elif cmd == "count":
        n = S.table_count(args.path, args.version)
        if n is None:  # pre-rowcount table: fall back to a scan
            n = S.read_version(spark, args.path, args.version).count()
        print(json.dumps({"count": n}))
    elif cmd == "delete":
        fn = S.delete_where if args.rewrite else S.delete_where_dv
        print(json.dumps(fn(spark, args.path, F.expr(args.where))))
    elif cmd == "update":
        try:
            assignments = _parse_assignments(args.assignments)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        print(json.dumps(S.update_where_dv(
            spark, args.path, F.expr(args.where),
            {c: F.expr(e) for c, e in assignments.items()})))
    elif cmd == "purge-dv":
        print(json.dumps(S.materialize_dvs(spark, args.path)))
    elif cmd == "optimize":
        zo = (
            [c.strip() for c in args.zorder_by.split(",") if c.strip()]
            if args.zorder_by
            else None
        )
        print(json.dumps(S.optimize(
            spark, args.path, target_files=args.target_files, zorder_by=zo)))
    elif cmd == "vacuum":
        removed = S.vacuum(args.path, keep_last=args.keep_last)
        print(json.dumps({"removed": len(removed)}))
    elif cmd == "rollback":
        print(json.dumps({"version": S.rollback(args.path, args.to_version)}))
    elif cmd == "clone":
        v = S.clone(args.path, args.dest, version=args.version)
        print(json.dumps({"clone_version": v, "dest": args.dest}))
    elif cmd == "rename-column":
        v = S.rename_column(args.path, args.old, args.new)
        print(json.dumps({"version": v, "renamed": {"from": args.old, "to": args.new}}))
    elif cmd == "drop-column":
        v = S.drop_column(args.path, args.column)
        print(json.dumps({"version": v, "dropped": args.column}))
    elif cmd == "add-constraint":
        v = S.add_table_constraint(spark, args.path, args.name, args.check)
        print(json.dumps({"version": v, "constraint": args.name}))
    elif cmd == "drop-constraint":
        v = S.drop_table_constraint(args.path, args.name)
        print(json.dumps({"version": v, "dropped_constraint": args.name}))
    elif cmd == "recover-txns":
        out = S.recover_transactions(
            spark, args.path, force=args.force, min_age_s=args.min_age
        )
        print(json.dumps({"recovered": out}))
    elif cmd == "abort-txn":
        out = S.abort_transaction(
            spark, args.path, args.txn_id,
            rollback_published=args.rollback_published,
        )
        print(json.dumps({"txn_id": args.txn_id, "outcome": out}))
    elif cmd == "where":
        df, info = S.read_version_where(
            spark, args.path, json.loads(args.atoms)
        )
        if args.count:
            info = {**info, "n_rows": df.count()}
        print(json.dumps(info))
    elif cmd == "enable-row-tracking":
        v = S.enable_row_tracking(args.path)
        m = S.read_manifest(args.path, v)
        print(json.dumps({
            "version": v, "row_id_watermark": m.get("row_id_watermark", 0),
        }))
    elif cmd == "change-feed":
        feed = S.change_feed_deltas(
            spark, args.path, args.v_from, args.v_to, key=args.key
        )
        # toLocalIterator streams partitions one at a time — the feed of a
        # long range never materializes wholesale on the driver
        for line in feed.toJSON().toLocalIterator():
            print(line)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    if args.cmd == "ticks" and (args.start is None) != (args.end is None):
        parser.error("ticks: --start and --end go together")
    from us_equity_datalake_spark.session import get_spark

    spark = get_spark(f"cli-{args.cmd}")
    try:
        if args.cmd == "update":
            target = args.date or (dt.date.today() - dt.timedelta(days=1)).isoformat()
            report = _run_update(spark, args, target)
            print(json.dumps(report, default=str))
        elif args.cmd == "backfill":
            try:
                days = backfill_dates(args.start, args.end)
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            for day in days:
                report = _run_update(spark, args, day)
                print(json.dumps(report, default=str))
        elif args.cmd == "ticks":
            _run_ticks(spark, args)
        elif args.cmd == "compact":
            from us_equity_datalake_spark.sources.lake import compact_partition

            compact_partition(
                spark,
                os.path.join(args.lake, args.table),
                partition_by=args.partition_by.split(","),
                predicate=args.predicate,
                target_files=args.target_files,
            )
            print(json.dumps({"compacted": args.table, "predicate": args.predicate}))
        elif args.cmd == "consolidate":
            from us_equity_datalake_spark.sources.lake import consolidate_year

            try:
                out = consolidate_year(
                    spark,
                    os.path.join(args.lake, args.hot),
                    os.path.join(args.lake, args.history),
                    year=args.year,
                    force=args.force,
                )
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(json.dumps({"year": args.year, **out}))
        elif args.cmd == "table":
            ret = _run_table_cmd(spark, args)
            if ret:
                return ret
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
