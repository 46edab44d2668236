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


def test_fallback_on_arrow_rejected_types(spark):
    # nested Rows inside cells take the legacy pickled path, same results
    rows = [(Row(x=1, y="a"),), (Row(x=2, y="b"),)]
    ddl = "s struct<x:long,y:string>"
    assert local_frame(spark, rows, ddl).collect() == \
        spark.createDataFrame(rows, ddl).collect()


class _ArrowPathFails:
    """A session whose Arrow/pandas ``createDataFrame`` raises ``exc``; the
    legacy row-list path is the real session's."""

    def __init__(self, spark, exc):
        self.spark, self.exc = spark, exc

    def createDataFrame(self, data, schema=None):
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            raise self.exc
        return self.spark.createDataFrame(data, schema=schema)


def test_fallback_only_for_conversion_errors(spark):
    """A value the converters reject takes the legacy path; any other error
    (a lost JVM gateway, say) raises instead of being retried as rows."""
    import pytest

    rows, ddl = [("x", 1)], "a string, b long"
    got = local_frame(_ArrowPathFails(spark, TypeError("unsupported cell")), rows, ddl)
    assert got.collect() == [Row(a="x", b=1)]
    with pytest.raises(RuntimeError, match="gateway"):
        local_frame(_ArrowPathFails(spark, RuntimeError("gateway lost")), rows, ddl)
