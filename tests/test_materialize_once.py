"""materialize_once contract (r13, VERDICT r12 'What's wrong' #2): one
helper materializes a small multi-consumer frame exactly once through the
AQE path — an eager localCheckpoint — so every adopted site reads the
materialized blocks with identical results."""

from pyspark.sql import functions as F

from us_equity_datalake_spark.operators._cache import materialize_once


def _frame(spark):
    return (
        spark.range(100)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.sum("id").alias("s"))
    )


def test_local_mode_checkpoints(spark):
    out = materialize_once(_frame(spark))
    # lineage truncated: the plan is a materialized RDD scan, not the agg
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "HashAggregate" not in plan
    assert {(r["g"], r["s"]) for r in out.collect()} == {
        (r["g"], r["s"]) for r in _frame(spark).collect()
    }
