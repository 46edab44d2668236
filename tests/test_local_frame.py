"""local_frame (registry.py): Arrow-backed local relations for driver-held
rows — the replacement for tuple-list createDataFrame, which parallelizes
pickled rows into defaultParallelism slices and pays a Python-worker task
per slice in EVERY consuming job (opt r12 #4)."""

import datetime
import decimal

from pyspark.sql import Row

from us_equity_datalake_spark.sources.registry import local_frame


def test_type_fidelity_roundtrip(spark):
    rows = [
        ("a", 1, datetime.date(2023, 1, 2), decimal.Decimal("1.500000"), [1, 2], None),
        ("b", None, None, None, [], 2.5),
    ]
    ddl = "f string, n long, d date, m decimal(30,6), arr array<int>, x double"
    df = local_frame(spark, rows, ddl)
    got = df.collect()
    assert got == spark.createDataFrame(rows, ddl).collect()
    # Row objects (the collect+re-land pattern) round-trip too
    assert local_frame(spark, got, df.schema).collect() == got


def test_plans_as_local_relation_no_python_rdd(spark):
    """The point of the helper: the physical plan must be a LocalTableScan
    (JVM local relation), not a Scan ExistingRDD over a pickled PythonRDD."""
    df = local_frame(spark, [("x", 1)], "a string, b long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_empty_and_dict_rows(spark):
    assert local_frame(spark, [], "a string, b long").count() == 0
    df = local_frame(spark, [{"a": "x", "b": 7}], "a string, b long")
    assert df.collect() == [Row(a="x", b=7)]


def test_struct_cells_roundtrip(spark):
    """Nested Rows, maps, binary, arrays of structs and full-precision
    decimals all convert on the Arrow/pandas path and equal the pickled
    row-list path's result: there is no fallback left to take."""
    cases = [
        ([(Row(x=1, y="a"),), (Row(x=2, y="b"),)], "s struct<x:long,y:string>"),
        ([({"a": 1, "b": 2},), ({},), (None,)], "m map<string,long>"),
        ([(b"\x00\x01\xff",), (None,)], "b binary"),
        ([([Row(x=1, y="a"), Row(x=2, y=None)],), ([],)], "a array<struct<x:long,y:string>>"),
        ([(decimal.Decimal("12345678901234567890.123456789012345678"),)], "d decimal(38,18)"),
    ]
    for rows, ddl in cases:
        df = local_frame(spark, rows, ddl)
        assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
        assert df.collect() == spark.createDataFrame(rows, ddl).collect(), ddl
