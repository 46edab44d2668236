"""Table registry over the driver's synthetic parquet lake.

Reads always pass the declared schema (SURVEY.md §1.3: never infer for lake
tables).  Parquet scans get Catalyst predicate pushdown + column pruning for
free; callers should ``select``/``filter`` as early as possible so those reach
the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from us_equity_datalake_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimensions that should always be broadcast when joined against facts.
BROADCAST_TABLES = {"region", "nation", "supplier", "customer", "part"}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one synthetic table with its declared schema."""
    if name not in schemas.TPCH:
        raise KeyError(f"unknown table {name!r}; known: {list(schemas.TPCH)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(schemas.TPCH[name]).parquet(path)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in (names or schemas.TESTDATA_TABLES)}


def parallelize_small_input(df: DataFrame, key: str, target: int | None = None) -> DataFrame:
    """Spread a few-partition input across the cluster before heavy row-local work.

    A small parquet file arrives as ONE input split, so an expensive row-local
    projection (shingling, hashing, regex) serializes on a single core.  The
    repartition shuffle moves only the raw rows — cheap relative to the work it
    unlocks.  At 100 TB the input already has thousands of splits and this is a
    no-op (guarded by the partition count), so the operator keeps its
    narrow/shuffle-free plan exactly where that matters.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        # key=None -> round-robin: right for spreading a CPU-heavy aggregate
        # over a single-row-group input where no join/grouping key benefits
        # from co-location (the shuffle is distribution-neutral for the
        # downstream groupBy; partial aggregation still runs map-side)
        df = df.repartition(target, key) if key is not None else df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Arrow-backed local relation from driver-held rows.

    ``spark.createDataFrame(list, schema)`` parallelizes PICKLED rows into
    ``defaultParallelism`` slices — every job that consumes the frame (each
    broadcast build, each noop write) then runs that many Python-worker
    tasks just to re-read driver constants: measured ~300 ms wall per task
    at ~0 CPU (worker fork + pickle round-trip).  Routing the same rows
    through pandas hits the Arrow path instead: batches decoded JVM-side
    (``PythonSQLUtils.toDataFrame``), no Python workers at execution time,
    one partition per 10k rows.  Type conversion is schema-driven; Spark's
    own Arrow fallback (on by default) converts what Arrow rejects, so
    nested structs, maps, binary, arrays of structs and full-precision
    decimals all take this path.
    """
    import pandas as pd

    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    rows = list(rows)
    fields = schema.fields

    def cell(r, i, f):
        return r.get(f.name) if isinstance(r, dict) else r[i]

    # object dtype end-to-end: pandas must not coerce (None -> NaN,
    # int -> float) before Arrow applies the declared Spark types
    pdf = pd.DataFrame(
        {
            f.name: pd.Series([cell(r, i, f) for r in rows], dtype="object")
            for i, f in enumerate(fields)
        },
        columns=[f.name for f in fields],
    )
    return spark.createDataFrame(pdf, schema=schema)
