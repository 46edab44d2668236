"""SparkSession factory tuned for the local[32] test harness while keeping
settings that carry to a real cluster (AQE, adaptive skew join, Arrow).

Scale notes: three settings here are local-master choices — master,
driver memory and the parallel-listing threshold (a listing job's tasks run
in the driver's own JVM under ``local[N]``, so it only adds scheduling; on a
cluster over an object store, fanning out the file stats pays, so drop it
back to Spark's default there).  Everything else is what we would set on a
1000-executor cluster too.  ``spark.sql.shuffle.partitions`` is sized for
local runs; on a cluster AQE coalescing makes the initial number mostly
irrelevant as long as it is an upper bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning — coalesce post-shuffle partitions, convert
    # sort-merge to broadcast when runtime stats allow, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas interchange / pandas UDFs (the sanctioned Python path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: reference semantics are null-propagating (x/0 -> null).
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    # Debug-only call-site capture (Spark 4 default ON) makes EVERY Column /
    # F.* construction walk the Python stack and do 3 extra py4j round-trips
    # to stamp PySparkCurrentOrigin — measured 3.0 ms per F.col vs 0.35 ms
    # raw py4j on this box, i.e. plan construction for expression-heavy
    # operators (metrics, as-of, text) was ~5x driver-bound on a feature
    # whose only effect is enriching AnalysisException messages with user
    # line numbers.  Off on any perf-sensitive deployment (guide §5).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Above this many paths a read lists its files in a distributed job, one
    # task per path.  Snapshot reads hand Spark the manifest's exact file
    # list (64 files on a benchmark table), and get_spark only builds a
    # local[N] master, so those tasks would run in this same JVM: the job
    # added 0.3-0.4 s of scheduling per 64-file read on a 4-core VM, to stat
    # files the manifest already names.  Listing stays on the driver here.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
}


def _install_jvm_function_cache() -> None:
    """Memoize PySpark's per-call JVM ``functions`` lookup (classic py4j only).

    ``_get_jvm_function`` resolves ``getattr(sc._jvm,
    "org.apache.spark.sql.functions")`` on EVERY ``F.*`` construction — two
    py4j reflection round-trips before the actual call (measured 1.25 ms per
    ``F.col`` on this box, 0.56 ms with the memo; expression-heavy plan
    builds like the 24-metric pipeline drop ~35% of their driver time).  The
    resolved handles are stable for the lifetime of a gateway, so cache per
    SparkContext (WeakKeyDictionary: a stopped context's handles stay
    collectable).  Pure driver-side perf (guide §5) — no query semantics."""
    try:
        import pyspark.sql.functions.builtin as _fb
    except ImportError:  # pragma: no cover - layout change: skip, perf-only
        return
    if getattr(_fb._get_jvm_function, "_quantlake_cached", False):
        return
    import weakref

    orig = _fb._get_jvm_function
    cache: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    def cached(name, sc):
        try:
            per_sc = cache.get(sc)
            if per_sc is None:
                per_sc = cache[sc] = {}
            f = per_sc.get(name)
            if f is None:
                f = per_sc[name] = orig(name, sc)
            return f
        except TypeError:  # pragma: no cover - unexpected sc type
            return orig(name, sc)

    cached._quantlake_cached = True
    _fb._get_jvm_function = cached


def get_spark(app_name: str = "quantlake-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32);
    shuffle partitions default to the same so a local shuffle neither
    over- nor under-parallelizes.
    """
    _install_jvm_function_cache()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
