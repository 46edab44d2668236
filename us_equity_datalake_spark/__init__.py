"""quantlake-spark: a PySpark-native analytics engine with the query and
data-processing capabilities of the reference system dafu-zhu/us-equity-datalake
(surveyed in SURVEY.md), re-expressed Spark-first.

Subpackages
-----------
- ``operators``  — relational/temporal operators (PIT interval join, as-of join,
  rolling windows, dedup families, reshape, top-k, range joins, similarity).
- ``sources``    — lake layout: partitioned parquet read/write, compaction,
  idempotent overwrite, read-check-append; ingest-edge stubs.
- ``functions``  — scalar/column function families (safe math, text, vectors,
  deterministic hashing shared with the DuckDB oracle).
- ``plans``      — named query definitions (Spark callable + oracle SQL pairs)
  over the driver's synthetic tables.
- ``streaming``  — Structured Streaming equivalents (tumbling/sliding/session
  windows, stateful dedup upsert).
"""

__version__ = "0.1.0"
