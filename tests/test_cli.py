"""CLI surface tests (reference update/cli.py, consolidate/cli.py parity) —
parser wiring + the backfill-range guard; the update path itself is covered by
test_daily_job (the CLI is a thin loader around run_daily_update)."""

import pytest

from us_equity_datalake_spark.cli import MAX_BACKFILL_DAYS, _build_parser, backfill_dates


def test_parser_update_flags():
    args = _build_parser().parse_args(
        ["update", "--lake", "/tmp/l", "--date", "2024-06-07",
         "--filings-feed", "/tmp/feed.parquet", "--lookback", "10"]
    )
    assert args.cmd == "update" and args.lake == "/tmp/l"
    assert args.filings_feed == "/tmp/feed.parquet" and args.lookback == 10


def test_parser_compact_flags():
    args = _build_parser().parse_args(
        ["compact", "--lake", "/tmp/l", "--table", "raw/ticks/daily",
         "--predicate", "year = 2024", "--partition-by", "year,month"]
    )
    assert args.cmd == "compact" and args.target_files == 1
    assert args.partition_by == "year,month"


def test_backfill_dates_inclusive_and_guarded():
    days = backfill_dates("2024-06-01", "2024-06-03")
    assert days == ["2024-06-01", "2024-06-02", "2024-06-03"]
    with pytest.raises(ValueError):
        backfill_dates("2024-06-07", "2024-06-01")  # reversed
    with pytest.raises(ValueError):
        backfill_dates("2024-01-01", "2024-12-31")  # > MAX_BACKFILL_DAYS
    assert len(backfill_dates("2024-06-01", "2024-06-01")) == 1
    assert MAX_BACKFILL_DAYS == 30



def test_parser_consolidate_flags():
    args = _build_parser().parse_args(
        ["consolidate", "--lake", "/tmp/l", "--hot", "raw/ticks/daily",
         "--history", "raw/ticks/history", "--year", "2025", "--force"]
    )
    assert args.cmd == "consolidate" and args.year == 2025 and args.force
    args = _build_parser().parse_args(
        ["consolidate", "--lake", "/tmp/l", "--hot", "h", "--history", "hist", "--year", "2024"]
    )
    assert not args.force


def test_parser_table_admin_flags():
    p = _build_parser()
    a = p.parse_args(["table", "delete", "--path", "/t", "--where", "x = 1"])
    assert (a.cmd, a.table_cmd, a.rewrite) == ("table", "delete", False)
    a = p.parse_args(["table", "update", "--path", "/t", "--where", "x=1",
                      "--set", "y=y*2,z='a'"])
    assert a.assignments == "y=y*2,z='a'"
    a = p.parse_args(["table", "optimize", "--path", "/t", "--zorder-by", "a,b"])
    assert a.zorder_by == "a,b"


def test_parse_assignments_top_level_commas_only():
    from us_equity_datalake_spark.cli import _parse_assignments

    got = _parse_assignments("y = round(x, 2), z = 'a,b'")
    assert sorted(got) == ["y", "z"]
    import pytest

    with pytest.raises(ValueError, match="missing"):
        _parse_assignments("nonsense")


def test_cli_table_admin_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """Drive the snapshot-admin verbs through main() against a scratch
    table: delete (DV), update (MoR), count, purge, optimize, history,
    rollback, vacuum, clone."""
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    # main() creates/stops its own session per invocation; reuse the test
    # session and make stop a no-op so the suite's fixture survives
    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 100).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS val"),
        path,
    )

    def run(*argv):
        assert cli.main(list(argv)) == 0
        return [_json.loads(line) for line in capsys.readouterr().out.splitlines()]

    out = run("table", "delete", "--path", path, "--where", "grp = 3")
    assert out[0]["files_rewritten"] == 0 and out[0]["rows_deleted"] == 14
    out = run("table", "count", "--path", path)
    assert out[0]["count"] == 86
    out = run("table", "update", "--path", path, "--where", "grp = 0",
              "--set", "val = val + 100")
    assert out[0]["rows_updated"] == 15 and out[0]["files_rewritten"] == 0
    got = {r["id"]: r["val"] for r in snapshots.read_version(spark, path).collect()}
    assert got[0] == 100.0 and got[7] == 110.5 and 3 not in got
    out = run("table", "purge-dv", "--path", path)
    assert out[0]["rows_purged"] >= 14
    out = run("table", "optimize", "--path", path, "--target-files", "1")
    assert out[0]["files_after"] == 1
    hist = run("table", "history", "--path", path)
    assert [h["mode"] for h in hist] == [
        "append", "delete_dv", "update_dv", "purge_dv", "overwrite"
    ]
    out = run("table", "rollback", "--path", path, "--to-version", "4")
    assert out[0]["version"] == 6
    clone_dest = str(tmp_path / "c")
    out = run("table", "clone", "--path", path, "--dest", clone_dest)
    assert out[0]["clone_version"] == 1
    out = run("table", "vacuum", "--path", path, "--keep-last", "1")
    assert snapshots.read_version(spark, path).count() == 86
    assert snapshots.read_version(spark, clone_dest).count() == 86


def test_cli_zorder_by_strips_whitespace(spark, tmp_path, capsys, monkeypatch):
    """--zorder-by "a, b" must cluster on (a, b), not (a, ' b')."""
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 50).selectExpr("id", "id % 5 AS grp", "id * 1.5 AS val"),
        path,
    )
    assert cli.main(
        ["table", "optimize", "--path", path, "--target-files", "1",
         "--zorder-by", "grp, id"]
    ) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert out["files_after"] == 1
    assert snapshots.read_version(spark, path).count() == 50


def test_cli_rename_column(spark, tmp_path, capsys, monkeypatch):
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 10).selectExpr("id", "id * 1.5 AS val"), path
    )
    assert cli.main(
        ["table", "rename-column", "--path", path, "--old", "val", "--new", "price"]
    ) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert out == {"version": 2, "renamed": {"from": "val", "to": "price"}}
    assert snapshots.read_version(spark, path).columns == ["id", "price"]


def test_cli_drop_column(spark, tmp_path, capsys, monkeypatch):
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 10).selectExpr("id", "id * 1.5 AS val", "id % 2 AS g"), path
    )
    assert cli.main(
        ["table", "drop-column", "--path", path, "--column", "g"]
    ) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert out == {"version": 2, "dropped": "g"}
    assert snapshots.read_version(spark, path).columns == ["id", "val"]


def test_cli_change_feed(spark, tmp_path, capsys, monkeypatch):
    """`table change-feed --from --to --key` streams one JSON line per
    change row, riding the O(Δ) per-transition dispatch (a DV delete emits
    'delete' rows without a snapshot join)."""
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 10).selectExpr("id", "id * 1.5 AS val"), path
    )  # v1
    snapshots.delete_where_dv(spark, path, __import__("pyspark.sql.functions", fromlist=["col"]).col("id") < 3)  # v2
    snapshots.commit(
        spark.range(20, 22).selectExpr("id", "id * 1.5 AS val"), path
    )  # v3
    assert cli.main(
        ["table", "change-feed", "--path", path, "--from", "1", "--to", "3",
         "--key", "id"]
    ) == 0
    rows = [_json.loads(line) for line in capsys.readouterr().out.splitlines()]
    by = {}
    for r in rows:
        by.setdefault(r["change_type"], set()).add(r["id"])
    assert by == {"delete": {0, 1, 2}, "insert": {20, 21}}


def test_cli_enable_row_tracking(spark, tmp_path, capsys, monkeypatch):
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 12).repartition(1).sortWithinPartitions("id"), path
    )
    assert cli.main(["table", "enable-row-tracking", "--path", path]) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert out == {"version": 2, "row_id_watermark": 12}
    ids = sorted(
        r._row_id for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert ids == list(range(12))


def test_cli_recover_txns(spark, tmp_path, capsys, monkeypatch):
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.commit(spark.range(0, 4), a)
    snapshots.commit(spark.range(0, 2), b)
    orig = snapshots._publish_txn_table
    calls = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls["n"] += 1
        if calls["n"] == 2:
            raise snapshots.ConcurrentWriteError("injected")
        return orig(sp, entry, txn_id, status_path, max_retries)

    monkeypatch.setattr(snapshots, "_publish_txn_table", crash_second)
    try:
        snapshots.commit_transaction([(spark.range(10, 12), a),
                                      (spark.range(10, 11), b)])
    except snapshots.ConcurrentWriteError:
        pass
    monkeypatch.setattr(snapshots, "_publish_txn_table", orig)
    # --force: the "crashed" writer is this live test process, so the
    # owner-liveness lease would rightly skip the pending txn otherwise
    assert cli.main(["table", "recover-txns", "--path", a, "--force"]) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert list(out["recovered"].values()) == ["committed"]
    assert snapshots.read_version_committed(spark, b).count() == 3


def test_cli_where_planner(spark, tmp_path, capsys, monkeypatch):
    """The 'where' verb reports the composed skip decision (and with
    --count runs the pruned scan)."""
    import json as _json

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.sources import snapshots

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    path = str(tmp_path / "t")
    for lo in (0, 10, 20):
        snapshots.commit(
            spark.range(lo, lo + 10).selectExpr(
                "id", "CASE WHEN id >= 10 AND id < 20 THEN "
                      "CAST(NULL AS STRING) ELSE 'x' END AS note"
            ).coalesce(1),
            path, stats_cols=["id", "note"] if lo == 0 else None,
        )
    atoms = ('[{"col":"id","op":"between","lo":10,"hi":29},'
             '{"col":"note","op":"not_null"}]')
    assert cli.main(
        ["table", "where", "--path", path, "--atoms", atoms, "--count"]
    ) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert out["files_total"] == 3 and out["files_scanned"] == 1
    assert out["n_rows"] == 10


def test_cli_ticks_reads_across_symbol_change_and_hot_history(spark, tmp_path, capsys, monkeypatch):
    """`ticks` serves the symbol-based reads over a consolidated history
    (2021-2022) plus the hot year (2023): sid 1001 trades as OLD through
    2021 and as NEW from 2022.  --start/--end is the calendar-aligned slice
    across the split; --as-of is the resolved security's whole series."""
    import datetime as _dt
    import json as _json
    import os

    from pyspark.sql import Row

    import us_equity_datalake_spark.cli as cli
    from us_equity_datalake_spark.equity.daily_job import LakePaths
    from us_equity_datalake_spark.sources.lake import write_partitioned

    monkeypatch.setattr(
        "us_equity_datalake_spark.session.get_spark", lambda name: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    D = _dt.date
    root = str(tmp_path / "lake")
    lake = LakePaths(root)

    def bars(days):
        return spark.createDataFrame(
            [Row(security_id=1001, timestamp=d, close=float(d.year) + d.day / 100,
                 year=d.year, month=d.month) for d in days])

    write_partitioned(bars([D(2021, 1, 4), D(2022, 12, 30)]),
                      os.path.join(root, "raw", "ticks", "history"), partition_by=["year"])
    write_partitioned(bars([D(2023, 1, 4)]), lake.ticks_daily, partition_by=["year", "month"])
    spark.createDataFrame([
        Row(security_id=1001, symbol="OLD", start_date=D(2021, 1, 1), end_date=D(2021, 12, 31)),
        Row(security_id=1001, symbol="NEW", start_date=D(2022, 1, 1), end_date=D(2099, 12, 31)),
    ]).write.parquet(lake.security_master)

    def run(*argv):
        assert cli.main(["ticks", "--lake", root, *argv]) == 0
        return [_json.loads(line) for line in capsys.readouterr().out.splitlines()]

    # weekdays 2022-12-30 .. 2023-01-05: one history bar, one hot bar, and
    # the untraded weekdays kept with null bar columns
    out = run("--symbol", "NEW", "--start", "2022-12-30", "--end", "2023-01-05",
              "--history", os.path.join("raw", "ticks", "history"))
    assert [r["timestamp"] for r in out] == [
        "2022-12-30", "2023-01-02", "2023-01-03", "2023-01-04", "2023-01-05"]
    assert {r["timestamp"]: r.get("close") for r in out if r.get("close")} == {
        "2022-12-30": 2022.3, "2023-01-04": 2023.04}

    # NEW as of 2023 resolves to sid 1001: its OLD-era bar comes back too
    out = run("--symbol", "NEW", "--as-of", "2023-06-01")
    assert [(r["security_id"], r["timestamp"]) for r in out] == [
        (1001, "2021-01-04"), (1001, "2022-12-30"), (1001, "2023-01-04")]
    # OLD before the change is the same security; OLD today trades nothing,
    # so every aligned weekday is null
    assert len(run("--symbol", "OLD", "--as-of", "2021-06-01")) == 3
    out = run("--symbol", "OLD", "--start", "2023-01-02", "--end", "2023-01-06")
    assert len(out) == 5 and not any("close" in r for r in out)
    for bad in (["--start", "2023-01-02"], ["--as-of", "2023-01-02", "--end", "2023-01-06"]):
        with pytest.raises(SystemExit):
            cli.main(["ticks", "--lake", root, "--symbol", "NEW", *bad])
