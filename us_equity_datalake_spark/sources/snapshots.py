"""Versioned snapshot log: copy-on-write commits + time-travel reads.

The reference's lake mutates parquet in place and keeps one JSON state file
(update/app.py universe state; security_master.py:831-840 custom metadata) —
so yesterday's table is gone the moment today's job lands.  A 100 TB lake
wants the Delta/Iceberg discipline instead: data files are IMMUTABLE, every
commit writes new files plus a tiny manifest listing the files that make up
that version, and a reader pins a manifest — snapshot isolation for free,
time travel by reading an old manifest, instant rollback by re-pointing.

This is the minimal honest core of that design (a manifest per version under
``_snapshots/``, files never rewritten), NOT a full transaction protocol:
concurrent publishes are DETECTED (exclusive-create on the version file) and
every writer publishes through one optimistic loop (:func:`_publish_loop`:
re-read the log, rebase, bump, retry — Delta's automatic retry).  Appends
always rebase; rewrites and deletion-vector commits rebase only when the
Delta conflict rules allow it and raise otherwise, so single-writer-per-table
remains the operating assumption for mutating commits, same as the
reference's daily job.

Scale notes: a manifest lists file paths (KB-scale for thousands of files —
at Iceberg scale you'd shard manifests, same structure one level deeper);
``read_version`` hands Spark the explicit file list, so listing cost is the
manifest read, not a recursive directory walk, and normal parquet pruning
(footer stats, column projection) applies unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import socket
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegralType, StringType

_SNAP_DIR = "_snapshots"
_HOSTNAME = socket.gethostname()


def _snap_path(path: str, version: int) -> str:
    return os.path.join(path, _SNAP_DIR, f"v{version:06d}.json")


def _latest_pointer(path: str) -> str:
    return os.path.join(path, _SNAP_DIR, "_latest")


def latest_version(path: str) -> int:
    """0 when the table has no commits yet.

    Resolution is O(1), not O(#versions) (r12 — the Delta
    ``_last_checkpoint`` discipline): every publish updates an atomic
    ``_latest`` pointer file, and this read takes the pointer as a HINT —
    never as truth — probing upward with existence checks until the first
    missing manifest.  A pointer left stale by a crash between manifest
    create and pointer write (or by two racing publishers whose pointer
    writes landed out of order) costs a few probes, never a wrong answer;
    a missing/corrupt pointer falls back to the full directory listing.
    At a million commits the listing is the dominant metadata cost on an
    object store (LIST vs a single GET) — every read/commit calls this."""
    d = os.path.join(path, _SNAP_DIR)
    hint = 0
    try:
        with open(_latest_pointer(path)) as f:
            hint = int(json.load(f).get("version", 0))
    except (FileNotFoundError, ValueError, json.JSONDecodeError):
        hint = 0
    if hint > 0 and os.path.exists(_snap_path(path, hint)):
        v = hint
        while os.path.exists(_snap_path(path, v + 1)):
            v += 1
        return v
    if not os.path.isdir(d):
        return 0
    vs = [int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")]
    return max(vs, default=0)


def read_manifest(path: str, version: int) -> dict:
    with open(_snap_path(path, version)) as f:
        return json.load(f)


def _data_files(commit_dir: str) -> "dict[str, int]":
    """The commit's data-bearing files with their footer row counts
    ({path: n_rows}).  Spark writes a part file per task even when the task
    had no rows; zero-row files carry no information and no footer stats,
    so they are dropped from the manifest AND from disk (one driver-side
    footer read per new file — the same file-count-bounded design point as
    stats collection).  If the commit produced NO rows at all, one empty
    file is kept as the schema anchor: a version whose content is
    legitimately empty (delete-everything) must still be readable with its
    schema.  The row counts land in the manifest, which makes COUNT(*) a
    metadata-only answer (:func:`table_count`) — the Delta/Iceberg
    metadata-query fast path."""
    import pyarrow.parquet as pq

    out, empties = {}, []
    for f in sorted(os.listdir(commit_dir)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(commit_dir, f)
        n = pq.ParquetFile(p).metadata.num_rows
        if n == 0:
            empties.append(p)
            continue
        out[p] = n
    if not out and empties:
        out[empties[0]] = 0
        empties = empties[1:]
    for p in empties:
        os.remove(p)
    return out


class ConcurrentWriteError(RuntimeError):
    """Another writer published this version first (optimistic concurrency)."""


def _publish(path: str, new_v: int, manifest: dict) -> None:
    """Atomically publish a manifest, DETECTING a concurrent writer AND
    surviving a crash mid-write: the JSON is fully written (and fsynced) to
    a temp file first, then ``os.link``-ed onto the final version name —
    link fails with EEXIST exactly like O_EXCL (two writers racing to
    publish the same version number cannot both win; the loser gets
    ConcurrentWriteError and must re-read the log and retry, the Delta
    optimistic-concurrency protocol), and a crash at ANY point leaves
    either no version file or a complete one — never a truncated manifest
    that would poison every subsequent read."""
    target = _snap_path(path, new_v)
    # wall-clock commit stamp (Delta's TIMESTAMP AS OF basis).  Single-writer
    # per mutating commit is the operating assumption, so the log's stamps
    # are monotone in practice; read_version_asof still guards against a
    # skewed clock by taking the LAST version at-or-before the timestamp.
    manifest.setdefault("committed_at", time.time())
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = f"{target}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {new_v} of {path} was published by another writer; "
            "re-read the log and retry the commit"
        ) from None
    finally:
        os.unlink(tmp)
    # advance the O(1) latest-version pointer (best-effort HINT — see
    # latest_version: a crash right here, or two racers' pointer writes
    # landing out of order, costs upward probes, never correctness)
    ptr = _latest_pointer(path)
    ptmp = f"{ptr}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        with open(ptmp, "w") as f:
            json.dump({"version": new_v}, f)
        os.replace(ptmp, ptr)
    except OSError:
        pass



def _json_scalar(v):
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return str(v)


def _file_stats(files: list[str], cols: list[str]) -> dict:
    """Per-file column min/max AND null counts lifted from the parquet
    FOOTERS into the manifest — the Iceberg/Delta stats-collection step.
    Driver-side and file-count-bounded (one footer read per new file, no
    data scan).  Entry shape per column: ``[min, max, null_count,
    file_rows]`` — the Delta stats triple (minValues/maxValues/nullCount)
    plus the file row count the null-skipping decision needs.  A column
    whose footer lacks min/max in some row group records ``[None, None,
    nulls, rows]`` (range pruning treats it as 'cannot prune'; an ALL-NULL
    file lands here, and before null counts it was invisible to skipping
    entirely); a column whose footer lacks null_count records ``nulls`` as
    None (null-predicate pruning keeps the file, conservative)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st: dict[str, list] = {}
        for c in cols:
            i = idx.get(c)
            if i is None:
                continue
            mn = mx = None
            nulls = 0
            range_ok = nulls_ok = True
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(i).statistics
                if s is None:
                    range_ok = nulls_ok = False
                    break
                if not s.has_min_max:
                    range_ok = False
                else:
                    mn = s.min if mn is None else min(mn, s.min)
                    mx = s.max if mx is None else max(mx, s.max)
                if not s.has_null_count or s.null_count is None:
                    nulls_ok = False
                else:
                    nulls += s.null_count
            if range_ok and mn is not None:
                st[c] = [_json_scalar(mn), _json_scalar(mx),
                         nulls if nulls_ok else None, md.num_rows]
            elif nulls_ok:
                st[c] = [None, None, nulls, md.num_rows]
        out[f] = st
    return out


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_spark_schema(files: "list[str]"):
    """The Spark schema Spark's own inference would pick for ``files``, read
    on the driver — or None when it cannot be read that way.

    With ``mergeSchema`` off, Spark sorts the files by path and takes the
    schema from the first one's footer (``ParquetUtils.inferSchema``),
    preferring the Spark schema JSON a Spark writer stores there under
    ``org.apache.spark.sql.parquet.row.metadata``.  This reads that same
    key from that same file with pyarrow.  None (the caller lets Spark
    infer) when a path is a URI, the footer cannot be opened, the key
    is absent (a file no Spark writer produced), or the JSON does not parse
    in Python (e.g. a JVM-only user-defined type)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    if any("://" in f for f in files):  # manifests hold plain local paths
        return None
    first = min(os.path.abspath(f) for f in files)
    try:
        kv = pq.read_metadata(first).metadata or {}
    except (OSError, pa.ArrowException):
        return None
    raw = kv.get(_SPARK_ROW_METADATA)
    if raw is None:
        return None
    try:
        return StructType.fromJson(json.loads(raw))
    except (ValueError, KeyError, ImportError):
        return None


def _read_parquet_files(
    spark: SparkSession, files: "list[str]", *, merge_schema: bool = False
) -> DataFrame:
    """The raw read of a manifest-named file list, planned with no Spark job.

    ``spark.read.parquet(*files)`` alone starts two jobs before any action:
    a parallel-listing job when there are more paths than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (raised in
    ``session._DEFAULTS``, so the listing stays on the driver), and a
    one-task schema-inference job that opens one footer.  The second is
    avoided by reading that footer's Spark schema on the driver
    (:func:`_footer_spark_schema`) and passing it as the read schema — the
    same schema from the same file, so the frame is identical.  A file
    without that footer key falls back to Spark's inference.

    ``merge_schema=True`` keeps Spark's inference: merging must open EVERY
    footer, and the union of schemas across files is Spark's to compute."""
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    schema = _footer_spark_schema(files)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*files)


_BLOOM_BITS_PER_KEY = 16  # per-file filter sizing (the production constant)
_BLOOM_K = 5
_BLOOM_SEED = 211


def _bloom_m_for(n_distinct: int) -> int:
    """Power-of-two filter width holding ~16 bits per distinct key — the
    bits-per-key discipline the bloom scale curve measured (fixed m
    saturates; bits/key holds the designed FP rate at any file size)."""
    m = 64
    while m < _BLOOM_BITS_PER_KEY * max(1, n_distinct):
        m *= 2
    return m


def _bloom_sidecar(data_file: str) -> str:
    return data_file + ".bloom.json"


def _bloom_hash(value) -> int:
    """A bloom key's base hash: md5 of ``str(value)``, first 8 hex digits —
    the one hash the builder sets and the probe tests.  Only for string and
    integral (byte to long) values does ``str`` equal SQL's cast and print a
    lookup value like the stored one: a double ``1e10`` casts to ``1.0E10``
    and ``1`` misses ``1.0``; a boolean ``True`` casts to ``true``."""
    return int(hashlib.md5(str(value).encode()).hexdigest()[:8], 16)


def _write_file_blooms(files: list[str], cols: list[str]) -> None:
    """Per-(file, column) bloom filters, built on the driver from each new
    file's bloom columns (no Spark job) and written as a base64-bitmap
    SIDECAR next to it — Delta's bloom-index layout: the JSON log stays
    KB-sized, carried-over files keep their sidecars for free, vacuum
    reclaims them with the data.  Width: 16 bits per distinct non-null key
    of the file.  A column with no non-null value (or absent) gets no
    filter; a file with no filter (the zero-row anchor) gets no sidecar.
    A column neither string nor integral raises ``TypeError``."""
    import base64

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from us_equity_datalake_spark.functions.hashing import MERSENNE_P, perm_coefficients

    coeffs = perm_coefficients(_BLOOM_K, _BLOOM_SEED)
    for f in files:
        pf = pq.ParquetFile(f)
        table = pf.read(columns=[c for c in cols if c in pf.schema_arrow.names])
        filters = {}
        for c in table.column_names:
            t = table.schema.field(c).type
            if not (pa.types.is_string(t) or pa.types.is_integer(t)):
                raise TypeError(f"bloom column {c!r} of {f} is {t}, not string or integral")
            keys = pc.unique(table.column(c)).drop_null().to_pylist()
            if not keys:
                continue
            m = _bloom_m_for(len(keys))
            h = np.array([_bloom_hash(v) for v in keys], dtype=np.int64)
            buf = np.zeros(m // 8, dtype=np.uint8)
            for a, b in coeffs:
                p = (h * a + b) % MERSENNE_P % m
                np.bitwise_or.at(buf, p >> 3, (1 << (p & 7)).astype(np.uint8))
            filters[c] = {"m": m, "bitmap": base64.b64encode(buf.tobytes()).decode()}
        if filters:
            with open(_bloom_sidecar(f), "w") as fh:
                json.dump(filters, fh)


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read DELETE/UPDATE (the Delta DV / Iceberg v2
# position-delete design).  A DV commit deletes rows WITHOUT rewriting any
# data file: it records the deleted ROW POSITIONS per file in a tiny sidecar
# and publishes a new manifest whose ``dv`` map points files at their
# sidecars.  Readers anti-join the (file, position) pairs at scan time; a
# later ``materialize_dvs`` (or any copy-on-write rewrite of the file)
# purges them physically.  At 100 TB this is the difference between flipping
# KB of bitmap to delete one row and rewriting a GB data file for it.
# ---------------------------------------------------------------------------


def _dv_sidecar(path: str, version: int, data_file: str, token: str = "") -> str:
    """Sidecar location for ``data_file``'s deletion vector as of
    ``version``.  DVs are version-scoped (unlike bloom sidecars, which
    describe immutable file CONTENT): two versions may hold different
    vectors for the same file, so sidecars live under the log, keyed by
    the version that introduced them plus a digest of the file path.
    ``token`` (a per-write uuid) keeps RACING writers — two DV commits
    staging the same (version, file) before one loses the publish race and
    rebases — from clobbering each other's staging; every reader resolves
    sidecars through the manifest entry's explicit ``path``, never by
    reconstructing this name."""
    import hashlib

    h = hashlib.md5(data_file.encode()).hexdigest()[:16]
    name = f"{h}.{token}.json" if token else f"{h}.json"
    return os.path.join(path, _SNAP_DIR, "dv", f"v{version:06d}", name)


def _write_dv_sidecar(path: str, version: int, data_file: str, positions) -> dict:
    """Write a sorted uint64 position vector (base64-packed, the same
    sidecar discipline as the bloom index) atomically under a unique name
    and return its manifest entry."""
    import base64

    import numpy as np

    arr = np.array(sorted(int(p) for p in positions), dtype=np.uint64)
    sc = _dv_sidecar(path, version, data_file, token=uuid.uuid4().hex[:8])
    os.makedirs(os.path.dirname(sc), exist_ok=True)
    tmp = f"{sc}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(
            {"file": data_file, "n": int(arr.size),
             "positions": base64.b64encode(arr.tobytes()).decode()},
            f,
        )
    os.replace(tmp, sc)
    return {"path": sc, "n": int(arr.size)}


def _read_dv_positions(entry: dict) -> "list[int]":
    import base64

    import numpy as np

    with open(entry["path"]) as f:
        d = json.load(f)
    arr = np.frombuffer(base64.b64decode(d["positions"]), dtype=np.uint64)
    return [int(p) for p in arr]


# Above this many total deleted positions the scan stops materializing them
# on the driver and reads the sidecars DISTRIBUTED (Spark JSON source +
# executor-side numpy decode).  Below it, a driver-built broadcast frame is
# cheaper than an extra Spark job per scan — the common small-DV case.
DV_DRIVER_MAX_POSITIONS = 100_000
# Above this many positions the anti-join side is too big to broadcast
# (~8 MB/1M rows packed, but broadcast frames are row-expanded); fall back
# to a shuffle anti-join, which AQE can still convert if stats allow.
DV_BROADCAST_MAX_POSITIONS = 4_000_000
# change_feed_deltas folds its per-transition union through localCheckpoint
# every this many legs, bounding analyzer plan depth on long version ranges.
_FEED_FOLD_EVERY = 32


def _dv_positions_df(spark: SparkSession, dv: dict) -> DataFrame:
    """The (``__file``, ``__pos``) frame of DELETED positions, built WITHOUT
    driver materialization: sidecar JSONs are read by the Spark JSON source
    (one row per sidecar, distributed across executors) and the base64-packed
    uint64 vector is decoded executor-side with numpy inside ``mapInPandas``
    — the Delta shape, where the per-file bitmap ships to the scan, not to
    the driver.  At 10⁸–10⁹ accumulated right-to-be-forgotten positions the
    driver holds only the file list; each executor decodes its own sidecars.
    """
    paths = sorted(e["path"] for e in dv.values())
    raw = spark.read.schema("file string, positions string").json(paths)

    def decode(batches):
        import base64 as _b64

        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            for fname, b64 in zip(pdf["file"], pdf["positions"]):
                arr = _np.frombuffer(_b64.b64decode(b64), dtype=_np.uint64)
                yield _pd.DataFrame(
                    {"__file": fname, "__pos": arr.astype(_np.int64)}
                )

    return raw.mapInPandas(decode, "__file string, __pos long")


def _dv_pos_frame(spark: SparkSession, dv: dict) -> DataFrame:
    """(``__file``, ``__pos``) frame for a set of DV entries, routed by the
    manifest-recorded cardinality exactly like :func:`_scan_files`: small
    vectors come from a driver-built frame (no extra job), large ones from
    the distributed sidecar decode."""
    total = sum(int(e.get("n", 0)) for e in dv.values())
    if total <= DV_DRIVER_MAX_POSITIONS:
        import pandas as pd

        # pandas/Arrow-backed: the local relation ships as Arrow batches and
        # executes JVM-side — a tuple-list frame re-runs a Python worker
        # round-trip in EVERY job that joins it
        files: list = []
        pos: list = []
        for f, e in sorted(dv.items()):
            ps = _read_dv_positions(e)
            files.extend([f] * len(ps))
            pos.extend(ps)
        return spark.createDataFrame(
            pd.DataFrame({"__file": pd.Series(files, dtype="object"),
                          "__pos": pd.Series(pos, dtype="int64")}),
            schema="__file string, __pos long",
        )
    return _dv_positions_df(spark, dv)


def _apply_col_map(df: DataFrame, col_map: dict) -> DataFrame:
    """PHYSICAL -> LOGICAL renames on a scan (the read half of Delta/Iceberg
    column mapping: parquet files keep their original — physical — column
    names forever; the manifest's ``column_map`` {logical: physical} renames
    them at scan time).  Two-phase via temp names so chained renames
    (a->b then c->a) can never collide mid-way."""
    ren = {p: l for l, p in (col_map or {}).items() if p != l and p in df.columns}
    if not ren:
        return df
    tmp = {p: f"__cmap_{i}" for i, p in enumerate(sorted(ren))}
    for p, t in tmp.items():
        df = df.withColumnRenamed(p, t)
    for p, l in ren.items():
        df = df.withColumnRenamed(tmp[p], l)
    return df


def _unapply_col_map(df: DataFrame, col_map: dict) -> DataFrame:
    """LOGICAL -> PHYSICAL renames before a write (the write half of column
    mapping): every data file — before or after any rename — carries the
    same physical names, so scans never need per-file schemas."""
    ren = {l: p for l, p in (col_map or {}).items() if p != l and l in df.columns}
    if not ren:
        return df
    tmp = {l: f"__cmap_{i}" for i, l in enumerate(sorted(ren))}
    for l, t in tmp.items():
        df = df.withColumnRenamed(l, t)
    for l, p in ren.items():
        df = df.withColumnRenamed(tmp[l], p)
    return df


def _physical_col(manifest: dict, col: str) -> str:
    """The physical (in-file) name behind a logical column."""
    return (manifest.get("column_map") or {}).get(col, col)


# Manifest keys that carry the row-tracking state (Delta row tracking /
# Iceberg row lineage analog): `row_tracking` (feature flag),
# `row_id_watermark` (next unassigned id — monotonic, never reused),
# `base_row_ids` (file -> first id; ids are base + row position for files
# written WITHOUT a physical id column), `row_id_materialized` (files whose
# `_row_id` column is physical — written by id-preserving rewrites such as
# OPTIMIZE/compaction/REORG PURGE, where positions change but ids must not).
_RT_KEYS = ("row_tracking", "row_id_watermark", "base_row_ids", "row_id_materialized")
# Reserved physical column name for materialized row ids.
_ROW_ID = "_row_id"


def _carry_row_tracking(
    manifest: dict,
    prev_manifest: dict,
    files: "list[str]",
    new_counts: "dict[str, int]",
    has_row_id: bool,
    wm_hint: "int | None" = None,
) -> None:
    """Thread the row-tracking state through a DATA commit (mutates
    ``manifest``): carried-over files keep their id source; NEW files either
    materialize the ids the writer threaded in ``_row_id`` (an id-preserving
    rewrite) or take fresh base ids from the watermark in sorted-file order.
    Called inside the retry loops so a rebase re-reads the WINNER's
    watermark — two racing appends get disjoint id ranges."""
    if not prev_manifest.get("row_tracking"):
        if has_row_id:
            raise ValueError(
                f"frame carries reserved column {_ROW_ID!r} but row tracking "
                "is not enabled on the table (enable_row_tracking first)"
            )
        return
    wm = int(prev_manifest.get("row_id_watermark", 0))
    prev_base = prev_manifest.get("base_row_ids", {})
    prev_mat = set(prev_manifest.get("row_id_materialized", []))
    base = {f: prev_base[f] for f in files if f in prev_base}
    mat = [f for f in files if f in prev_mat]
    fresh = [f for f in files if f not in prev_base and f not in prev_mat]
    if has_row_id:
        mat += fresh  # the writer supplied the ids; they ride the files
        # an id-carrying writer that MINTED fresh ids for genuinely new
        # rows (MERGE inserts) declares how far it minted — the watermark
        # must advance past them or the next append re-mints the same ids
        if wm_hint is not None:
            wm = max(wm, int(wm_hint))
    else:
        for f in sorted(fresh):
            base[f] = wm
            wm += int(new_counts.get(f, 0))
    manifest["row_tracking"] = True
    manifest["row_id_watermark"] = wm
    if base:
        manifest["base_row_ids"] = base
    if mat:
        manifest["row_id_materialized"] = sorted(mat)


def _strip_row_id(df: DataFrame) -> DataFrame:
    return df.drop(_ROW_ID) if _ROW_ID in df.columns else df


def _reject_external_row_ids(path: str, op: str) -> None:
    """Guard every EXTERNAL commit entry point against frames carrying
    ``_row_id``: row identities are assigned by the table, and
    :func:`_carry_row_tracking` trusts an id-bearing frame as an internal
    id-preserving rewrite.  A user who round-trips
    :func:`read_version_row_ids` output back into :func:`commit` would
    otherwise mint DUPLICATE live identities (the files are marked
    materialized, the watermark never advances past them, and every by-id
    join then multiplies rows).  The id-preserving mutators (optimize /
    compact_files / materialize_dvs / update_where_dv / merge_upsert)
    thread an internal trusted flag instead."""
    raise ValueError(
        f"{op} to {path} rejected: the frame carries the reserved "
        f"{_ROW_ID!r} column.  Row identities are assigned by the table "
        "(id-preserving rewrites are internal to optimize / compact_files "
        "/ materialize_dvs / update_where_dv / merge_upsert) — drop "
        f"{_ROW_ID!r} before committing"
    )


def _drop_dead_cols(df: DataFrame, manifest: dict) -> DataFrame:
    """Project out physical columns that were logically DROPPED: the bytes
    stay in the immutable files (old versions still read them), but no
    current-version scan may surface them."""
    dead = [c for c in manifest.get("dropped_physical", []) if c in df.columns]
    return df.drop(*dead) if dead else df


def _lineage_cols(df: DataFrame) -> DataFrame:
    """Append ``__file`` (URL-decoded path, matching manifest entries) and
    ``__pos`` (parquet row index, shuffle-stable) to a parquet scan."""
    from pyspark.sql import functions as F

    file_expr = F.url_decode(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    )
    return df.select(
        "*", file_expr.alias("__file"), F.col("_metadata.row_index").alias("__pos")
    )


def _scan_files(
    spark: SparkSession,
    files: "list[str]",
    manifest: dict,
    *,
    merge_schema: bool = False,
    with_lineage: bool = False,
    keep_row_id: bool = False,
) -> DataFrame:
    """The ONE reader every version-pinned scan routes through: a single
    raw read of the file list (:func:`_read_parquet_files` — planned on the
    driver with no Spark job) when the manifest carries no deletion vectors
    (the common case), else a two-branch plan that anti-joins the DV'd
    files' rows against their (file, position) pairs.  Without
    ``merge_schema`` either plan is built without starting a Spark job: the
    first job is the caller's action.

    The DV side is manifest-sized (positions of DELETED rows only) and
    broadcast — the same shape Delta's scan takes when it pushes DVs to
    readers.  Positions come from ``_metadata.row_index`` captured at the
    scan leaves, so they survive any downstream shuffle (unlike
    ``input_file_name()``); the file identity is the URL-decoded
    ``_metadata.file_path``, matched against the manifest's plain paths.

    ``with_lineage=True`` keeps ``__file`` (decoded path) and ``__pos``
    (row position) on the output — the lineage the copy-on-write mutators
    (merge/delete/update) need to name their touched files and positions.
    """
    from pyspark.sql import functions as F

    dv = {f: e for f, e in (manifest.get("dv") or {}).items() if f in set(files)}
    cmap = manifest.get("column_map") or {}

    def _read(file_list):
        return _drop_dead_cols(
            _read_parquet_files(spark, file_list, merge_schema=merge_schema),
            manifest,
        )

    if not dv:
        base = _read(files)
        if not keep_row_id:
            base = _strip_row_id(base)
        if not with_lineage:
            return _apply_col_map(base, cmap)
        return _apply_col_map(_lineage_cols(base), cmap)

    clean = sorted(set(files) - set(dv))
    dvd = sorted(dv)
    # Route by manifest-recorded DV cardinality (sum of per-file n): small
    # vectors build the anti-join side on the driver (no extra Spark job),
    # large ones decode sidecars executor-side; very large ones also give up
    # the broadcast so the join shuffles instead of exploding the driver.
    total_n = sum(int(dv[f].get("n", 0)) for f in dvd)
    dv_df = _dv_pos_frame(spark, dv)
    if total_n <= DV_BROADCAST_MAX_POSITIONS:
        dv_df = F.broadcast(dv_df)
    def _leaf(file_list):
        # per-leaf _row_id strip: the two branches could otherwise disagree
        # on the hidden column's presence (mixed materialized/fresh files)
        # and fail the union
        scan = _read(file_list)
        if not keep_row_id:
            scan = _strip_row_id(scan)
        return _lineage_cols(scan)

    live = _leaf(dvd).join(dv_df, ["__file", "__pos"], "left_anti")
    if clean:
        live = _leaf(clean).unionByName(live, allowMissingColumns=merge_schema)
    live = _apply_col_map(live, cmap)
    return live if with_lineage else live.drop("__file", "__pos")


def _bloom_might_contain(data_file: str, col: str, value) -> bool:
    """Probe a data file's bloom sidecar for ``value`` (the builder's
    :func:`_bloom_hash` through the same hash family).  True — conservative
    — when the file has no sidecar or no filter for ``col``."""
    import base64

    from us_equity_datalake_spark.functions.hashing import MERSENNE_P, perm_coefficients

    sc = _bloom_sidecar(data_file)
    if not os.path.exists(sc):
        return True
    with open(sc) as fh:
        b = json.load(fh).get(col)
    if b is None:
        return True
    m = b["m"]
    buf = base64.b64decode(b["bitmap"])
    h = _bloom_hash(value)
    for a, bb in perm_coefficients(_BLOOM_K, _BLOOM_SEED):
        p = (h * a + bb) % MERSENNE_P % m
        if not (buf[p >> 3] >> (p & 7)) & 1:
            return False
    return True


class SchemaEnforcementError(ValueError):
    """An append would drop or retype columns of the table schema."""


# Manifest keys a commit carries from the manifest it builds on unless it
# sets them itself (version, mode, commit stamp, txn marker and the per-mode
# extras are never carried).
_MANIFEST_KEYS = ("files", "rows", "stats", "bloom_cols", "dv", "schema",
                  "column_map", "dropped_physical", "constraints", *_RT_KEYS)


def _carry(manifest: dict) -> dict:
    """The carried part of ``manifest``: where every metadata-only commit
    starts before it sets its own keys."""
    return {k: manifest[k] for k in _MANIFEST_KEYS if k in manifest}


def _head(path: str) -> "tuple[int, dict]":
    """The latest version and its manifest ({} before the first commit)."""
    v = latest_version(path)
    return v, (read_manifest(path, v) if v else {})


def _check_schema(what: str, prev_schema: "dict | None", new_schema: dict) -> None:
    """Schema enforcement on write (the Delta contract): every column of
    ``prev_schema`` must be present at its recorded type.  New columns are
    the additive evolution :func:`read_version_merged` serves."""
    if prev_schema is None:
        return
    dropped = sorted(c for c in prev_schema if c not in new_schema)
    retyped = {c: (prev_schema[c], new_schema[c]) for c in prev_schema
               if c in new_schema and new_schema[c] != prev_schema[c]}
    if dropped or retyped:
        raise SchemaEnforcementError(
            f"{what}: dropped columns {dropped}, retyped {retyped}; pass "
            "allow_schema_change=True (or overwrite) if intended"
        )


def _check_drift(base: dict, cur: dict, what: str) -> None:
    """The metadata-drift guard of every rebase: a rename, drop or
    constraint commit that landed after ``base`` conflicts with every writer
    (the Delta rule: metadata changes conflict with everything).  Staged
    files carry base's physical names, their rows were validated against
    base's constraints, and predicates were resolved under base's names."""
    changed = []
    if dict(base.get("column_map") or {}) != dict(cur.get("column_map") or {}):
        changed.append("column mapping changed")
    if set(base.get("dropped_physical") or ()) != set(cur.get("dropped_physical") or ()):
        changed.append("dropped columns changed")
    if dict(base.get("constraints") or {}) != dict(cur.get("constraints") or {}):
        changed.append("constraints changed")
    if changed:
        raise ConcurrentWriteError(
            f"{what}: table metadata changed concurrently ({'; '.join(changed)}) "
            "— the staged work was resolved under the old metadata; rerun it "
            "against the new snapshot"
        )


@dataclass
class _Staged:
    """A writer's data: durable under its commit directory, not yet
    published, with the table metadata it was written under.  ``base`` is
    the manifest it was staged against, or the transaction status-doc
    entry that recorded its column map, dropped slots and constraints."""

    path: str
    commit_dir: str
    counts: "dict[str, int]"  # new data file -> footer row count
    schema: dict  # the frame's logical schema, without _row_id
    base: dict
    has_row_id: bool = False
    overwrite: bool = False
    check_schema: bool = True  # re-run the drop/retype check on a rebase
    stats_cols: "list[str] | None" = None  # physical; None maintains the table's
    bloom_cols: "list[str] | None" = None
    wm_hint: "int | None" = None
    memo: dict = field(default_factory=dict)

    def doc(self) -> dict:
        """The entry a transaction's status doc records for recovery."""
        return {
            "path": self.path, "commit_dir": self.commit_dir,
            "new_schema": self.schema, "has_row_id": self.has_row_id,
            "column_map": dict(self.base.get("column_map", {})),
            "dropped_physical": sorted(self.base.get("dropped_physical", [])),
            "constraints": dict(self.base.get("constraints", {})),
        }

    @classmethod
    def from_doc(cls, doc: dict) -> "_Staged":
        return cls(doc["path"], doc["commit_dir"], _data_files(doc["commit_dir"]),
                   doc["new_schema"], doc, has_row_id=doc.get("has_row_id", False))

    def stats(self, cols: "list[str]") -> dict:
        """Footer stats of the new files, read once per column set."""
        key = ("stats", tuple(cols))
        if key not in self.memo:
            self.memo[key] = _file_stats(list(self.counts), cols)
        return self.memo[key]

    def blooms(self, cols: "list[str]") -> None:
        """Bloom sidecars for the new files, written once per column set."""
        key = ("bloom", tuple(sorted(cols)))
        if key not in self.memo:
            _write_file_blooms(list(self.counts), cols)
            self.memo[key] = True

    def discard(self) -> None:
        shutil.rmtree(self.commit_dir, ignore_errors=True)


def _stage(
    df: DataFrame,
    path: str,
    base: dict,
    *,
    op: str = "commit",
    overwrite: bool = False,
    allow_schema_change: bool = False,
    stats_cols: "list[str] | None" = None,
    bloom_cols: "list[str] | None" = None,
    trusted_row_ids: bool = False,
    wm_hint: "int | None" = None,
) -> _Staged:
    """Write ``df`` as the data of a commit on top of manifest ``base``.

    Every pre-write guard runs here, once, before any file lands: the
    external ``_row_id`` reject, the drop/retype check (skipped for an
    overwrite or ``allow_schema_change``), revived and shadowed physical
    slots, the bloom type rule for named and maintained columns, and (on
    the written files) the table constraints.  The data lands in the
    lowest free ``commit_v{K}`` with K above base's version, claimed with
    one atomic ``os.mkdir``: two racing writers never share a directory,
    and a commit that failed before its publish never blocks the next one.
    With no other writer in between, K is the version the commit publishes.
    """
    has_row_id = _ROW_ID in df.columns
    if has_row_id and not trusted_row_ids:
        _reject_external_row_ids(path, op)
    schema = {f.name: f.dataType.simpleString()
              for f in df.schema.fields if f.name != _ROW_ID}
    prev_schema = base.get("schema") or {}
    check_schema = not (overwrite or allow_schema_change)
    if check_schema:
        _check_schema(f"{op} to {path} rejected before any file landed",
                      base.get("schema"), schema)
    # column mapping: frames carry LOGICAL names, files the PHYSICAL ones,
    # so every file agrees whatever the rename history.  An overwrite
    # replaces the schema wholesale, so the map and the dropped slots reset.
    col_map = {} if overwrite else dict(base.get("column_map", {}))
    dropped_phys = set() if overwrite else set(base.get("dropped_physical", []))
    added = [c for c in schema if c not in prev_schema]
    # a NEW logical column may not reuse a dropped physical slot (old files
    # still hold its bytes, and the scan would resurrect them into it) ...
    revived = sorted(c for c in added if col_map.get(c, c) in dropped_phys)
    if revived:
        raise SchemaEnforcementError(
            f"{op} to {path} rejected: column(s) {revived} reuse a DROPPED "
            "column's physical slot — pick a different name (old files "
            "still carry the dropped bytes under it)"
        )
    # ... nor take a name a renamed column occupies physically (adding 'v'
    # after v->price: the write-side un-map would produce two 'v' columns)
    occupied = {p for l, p in col_map.items() if p != l}
    shadowed = sorted(c for c in added if c in occupied)
    if shadowed:
        raise SchemaEnforcementError(
            f"{op} to {path} rejected: column(s) {shadowed} shadow a renamed "
            "column's physical slot — pick a different name"
        )
    # bloom columns, named or maintained, must be string or integral
    named = bloom_cols is not None
    if named:
        bloom_cols = [col_map.get(c, c) for c in bloom_cols]
    types = {col_map.get(f.name, f.name): f.dataType for f in df.schema.fields}
    unbloomable = {
        c: types[c].simpleString() if c in types else "missing"
        for c in (bloom_cols if named else base.get("bloom_cols") or ())
        if (named or c in types)
        and not isinstance(types.get(c), (StringType, IntegralType))
    }
    if unbloomable:
        raise SchemaEnforcementError(
            f"{op} to {path} rejected before any file landed: bloom_cols "
            f"{unbloomable} are not string or integral columns"
        )
    os.makedirs(path, exist_ok=True)
    k = int(base.get("version", 0)) + 1
    while True:
        commit_dir = os.path.join(path, f"commit_v{k:06d}")
        try:
            os.mkdir(commit_dir)
            break
        except FileExistsError:
            k += 1
    try:
        _write_commit_checked(df, commit_dir, col_map,
                              dict(base.get("constraints", {})), path)
        counts = _data_files(commit_dir)
    except BaseException:
        shutil.rmtree(commit_dir, ignore_errors=True)
        raise
    return _Staged(
        path, commit_dir, counts, schema, base, has_row_id=has_row_id,
        overwrite=overwrite, check_schema=check_schema,
        # stats and footers are keyed by the PHYSICAL names in the files
        stats_cols=None if stats_cols is None else [col_map.get(c, c) for c in stats_cols],
        bloom_cols=bloom_cols, wm_hint=wm_hint,
    )


def _next_manifest(
    prev: dict,
    staged: _Staged,
    *,
    drop: "set[str] | frozenset" = frozenset(),
    dv_updates: "dict | None" = None,
    mode: str,
    txn: "dict | None" = None,
) -> dict:
    """The one carry of a DATA commit: the manifest that puts ``staged``'s
    files on top of ``prev`` (the head this attempt builds on), without the
    ``drop``ped files — or without any of prev's files for an overwrite.

    - rows: carried-over files keep their counts, new files bring theirs;
    - deletion vectors: carried-over files keep theirs (dropping them would
      RESURRECT deleted rows), dropped and overwritten files shed theirs
      (the rewrite applied them), ``dv_updates`` land on top;
    - row tracking (:func:`_carry_row_tracking`), re-read from prev, so
      racing appends get disjoint id ranges; a writer that MINTED ids
      against its base watermark conflicts once the watermark moved;
    - stats and bloom columns: the named ones, else the ones prev
      maintains, collected for the new files (once per column set);
    - schema: the additive union (an overwrite's own schema), re-validated
      against prev unless the writer opted out;
    - column map and dropped slots (reset by an overwrite) and constraints:
      the ones the data was written under, which the drift guard holds
      equal to prev's."""
    new = staged.counts
    ow = staged.overwrite
    files = [] if ow else sorted(f for f in prev.get("files", []) if f not in drop)
    files += list(new)
    m: dict = {"mode": mode, "files": files}
    prev_rows = prev.get("rows", {})
    m["rows"] = {**{f: prev_rows[f] for f in files if f in prev_rows}, **new}
    prev_dv = {} if ow else prev.get("dv", {})
    dv = {**{f: prev_dv[f] for f in files if f in prev_dv}, **(dv_updates or {})}
    if dv:
        m["dv"] = dv
    if staged.wm_hint is not None and int(prev.get("row_id_watermark", 0)) != int(
        staged.base.get("row_id_watermark", 0)
    ):
        raise ConcurrentWriteError(
            f"{mode} commit to {staged.path} conflicts with a concurrent "
            "commit: it minted row ids above a watermark that has since "
            "moved — rerun it against the new snapshot"
        )
    _carry_row_tracking(m, prev, files, new, staged.has_row_id, wm_hint=staged.wm_hint)
    prev_schema = prev.get("schema")
    if staged.check_schema:
        _check_schema(
            f"{mode} commit to {staged.path} rejected at publish (rebased "
            f"onto v{prev.get('version', 0)})", prev_schema, staged.schema,
        )
    m["schema"] = (staged.schema if ow or prev_schema is None
                   else {**prev_schema, **staged.schema})
    prev_stats = prev.get("stats", {})
    cols = staged.stats_cols
    if cols is None:
        cols = sorted({c for st in prev_stats.values() for c in st})
    if cols or prev_stats:
        m["stats"] = {f: prev_stats[f] for f in files if f in prev_stats}
        if cols:
            m["stats"].update(staged.stats(cols))
    bloom = staged.bloom_cols if staged.bloom_cols is not None else prev.get("bloom_cols")
    if bloom:
        staged.blooms(bloom)
        m["bloom_cols"] = sorted(bloom)
    meta = {} if ow else staged.base
    if meta.get("column_map"):
        m["column_map"] = dict(meta["column_map"])
    if meta.get("dropped_physical"):
        m["dropped_physical"] = sorted(meta["dropped_physical"])
    if staged.base.get("constraints"):
        m["constraints"] = dict(staged.base["constraints"])
    if txn is not None:
        m["txn"] = txn
    return m


_MAX_RETRIES = 5  # publish attempts before a writer gives up on a busy log


def _publish_loop(path: str, build, max_retries: int = _MAX_RETRIES, *,
                  discard=None, head: "tuple[int, dict] | None" = None) -> int:
    """The one optimistic publish loop (the Delta protocol): read the log
    head, ``build(prev_v, prev_manifest)`` the next manifest on it and
    publish that as ``prev_v + 1``; a lost race re-reads the head and
    builds again.  ``build`` raises :class:`ConcurrentWriteError` on a real
    conflict — no retry can fix one.  ``head`` is a ``(version, manifest)``
    the caller already read: the first attempt builds on it without
    re-reading when it is still the latest.  ``discard`` (a single-table
    writer's staged data) runs when the loop gives up: when reading the
    head or ``build`` raises, or when every attempt lost; never after a
    publish whose outcome is unknown.  Returns the published version."""
    last_err: ConcurrentWriteError | None = None
    for _ in range(max_retries):
        try:
            if head is not None and latest_version(path) == head[0]:
                prev_v, prev = head
            else:
                prev_v, prev = _head(path)
            head = None
            manifest = build(prev_v, prev)
        except BaseException:
            if discard is not None:
                discard()
            raise
        manifest["version"] = prev_v + 1
        try:
            _publish(path, prev_v + 1, manifest)
            return prev_v + 1
        except ConcurrentWriteError as e:
            last_err = e
    if discard is not None:
        discard()
    raise ConcurrentWriteError(
        f"commit to {path} lost the publish race {max_retries} times"
    ) from last_err


def _publish_staged(
    staged: _Staged,
    *,
    mode: str,
    rule=None,
    drop: "set[str] | frozenset" = frozenset(),
    txn: "dict | None" = None,
    max_retries: int = _MAX_RETRIES,
) -> int:
    """Publish staged data through :func:`_publish_loop`.  Each attempt
    runs the drift guard, then the writer's own conflict ``rule(prev_v,
    prev)`` (None for an append; it returns the writer's deletion-vector
    updates, if any), then :func:`_next_manifest`.  A single-table writer
    that gives up removes its staged directory; a transaction member keeps
    it, because :func:`recover_transactions` rolls forward from it."""
    what = f"{mode} commit to {staged.path}"

    def build(prev_v: int, prev: dict) -> dict:
        _check_drift(staged.base, prev, what)
        dv_updates = rule(prev_v, prev) if rule is not None else None
        return _next_manifest(prev, staged, drop=drop, dv_updates=dv_updates,
                              mode=mode, txn=txn)

    if txn is not None:  # staged.base is a status-doc entry, not a manifest
        return _publish_loop(staged.path, build, max_retries)
    return _publish_loop(staged.path, build, max_retries, discard=staged.discard,
                         head=(int(staged.base.get("version", 0)), staged.base))


def _rewrite_rule(path: str, drop: "set[str]", base_dv: dict, *, match=None,
                  known: "set[str] | frozenset" = frozenset()):
    """The conflict rule of a copy-on-write rewrite whose dropped-file set
    was decided once, against the snapshot it read (Delta's rewrite rules).
    The rebase raises :class:`ConcurrentWriteError` when

    - a file it drops is already gone (an overlapping rewrite landed);
    - a file it never read matches its predicate ``match`` (its
      replacement rows would swallow that file's rows).  On crash recovery
      the predicate is gone (it does not serialize into the status doc),
      so every file outside ``known`` counts: unknown overlap is a conflict;
    - a file it drops had its deletion vector changed (the replacement rows
      were derived from the old vector).

    Otherwise the rebase is safe: the head's files minus ours dropped plus
    our new files."""

    def rule(prev_v: int, prev: dict) -> None:
        files = prev.get("files", [])
        gone = drop - set(files)
        if gone:
            raise ConcurrentWriteError(
                f"rewrite of {path} conflicts with a concurrent commit: "
                f"{len(gone)} of this rewrite's target files were already "
                "removed (overlapping rewrite) — rerun the transaction "
                "against the new snapshot"
            )
        unseen = [f for f in files if f not in drop
                  and (match(f) if match is not None else f not in known)]
        if unseen:
            raise ConcurrentWriteError(
                f"rewrite of {path} conflicts with a concurrent commit: "
                f"{len(unseen)} files matching (or, on recovery, possibly "
                "matching) the rewrite predicate were added after this "
                "transaction's snapshot — rerun against the new snapshot"
            )
        prev_dv = prev.get("dv", {})
        drifted = [f for f in drop if prev_dv.get(f) != base_dv.get(f)]
        if drifted:
            raise ConcurrentWriteError(
                f"rewrite of {path} conflicts with a concurrent commit: "
                f"deletion vectors changed on {len(drifted)} of this "
                "rewrite's target files after this transaction's snapshot "
                "— rerun against the new snapshot"
            )

    return rule


def commit(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    replace: "callable | None" = None,
    stats_cols: "list[str] | None" = None,
    bloom_cols: "list[str] | None" = None,
    allow_schema_change: bool = False,
    _mode_label: "str | None" = None,
    _trusted_row_ids: bool = False,
    _id_watermark_hint: "int | None" = None,
    _base: "dict | None" = None,
) -> int:
    """Write ``df`` as a new immutable commit and a new manifest.

    - ``mode='append'``: new version = previous file list + this commit's
      files.
    - ``mode='overwrite'``: new version = this commit's files only.
    - ``replace=predicate(file_entry) -> bool``: copy-on-write partial
      rewrite — previous files for which ``replace`` returns True are
      DROPPED from the new manifest (the bytes stay on disk: older versions
      still reference them), the commit's files are added.
    - ``stats_cols``: record per-file min/max for these columns in the
      manifest (lifted from the parquet footers of the NEW files only;
      carried-over files keep their previously recorded stats).  Enables
      :func:`read_version_pruned` — manifest-level file skipping, which at
      object-store scale avoids even OPENING non-overlapping files (the
      Iceberg scan-planning layer above parquet's own footer pruning).
      Once a table has stats, they are MAINTAINED automatically: a commit
      without ``stats_cols`` re-collects the previously indexed columns
      for its new files (the Delta table-property discipline — MERGE,
      DELETE, and OPTIMIZE rewrites keep the skipping index alive instead
      of silently degrading it to the conservative fallback).
    - ``bloom_cols``: per-file BLOOM filters for these columns (the Delta
      bloom-index analog for point lookups on non-clustered columns, where
      min/max ranges cannot prune), built on the driver with no Spark job
      at 16 bits per distinct key of each file (the measured bloom
      constant); stored as a base64 bitmap SIDECAR next to each immutable
      data file so the JSON log stays KB-sized and carried-over files keep
      their index for free.  Probed by :func:`read_version_point`; the
      manifest records only ``bloom_cols`` so later commits maintain the
      index like stats.  STRING and INTEGRAL columns only: another type, or
      a missing name, raises :class:`SchemaEnforcementError` before any
      file lands.

    Schema is ENFORCED ON WRITE (the Delta contract): an append-mode
    commit must carry every existing column at its existing type — new
    columns are fine (the additive evolution ``read_version_merged``
    serves), but a dropped or retyped column is rejected BEFORE any file
    lands unless ``allow_schema_change=True`` (or ``mode='overwrite'``,
    which replaces the schema with the data).  Silent drops/retypes are
    how a lake quietly loses a column at version 847.

    Concurrency (the Delta optimistic protocol): the data is written once
    (:func:`_stage`), then the manifest publish loops up to
    ``_MAX_RETRIES`` times.  A commit that loses the publish race re-reads
    the log and rebases: an append onto any winner (two appends cannot
    conflict); a rewrite or overwrite only when the winner neither removed
    a file it drops, nor added a file its predicate matches, nor changed a
    dropped file's deletion vector (:func:`_rewrite_rule`).  A rename,
    drop or constraint change in between always conflicts.  A commit that
    gives up after staging (a conflict, a reject at publish, every attempt
    lost) removes its staged files.

    Returns the new version number.  Files land under ``commit_v{K}/``, K
    the lowest free number above the version the commit read — with no
    other writer in between, the version it publishes — so a commit's
    files are identifiable without tracking Spark's part-file names.

    ``_base`` is the manifest an internal caller read and derived ``df``
    from (its ids minted from that watermark, its ``replace`` decided on
    those files): the commit stages and rebases from it, not from a later
    head, so a commit that landed in between counts as a concurrent one.
    """
    base = _head(path)[1] if _base is None else _base
    overwrite = mode == "overwrite"
    match = (lambda f: True) if overwrite else replace
    # a rewrite's dropped-file set is decided ONCE, against the snapshot read
    drop = {f for f in base.get("files", []) if match(f)} if match else set()
    staged = _stage(
        df, path, base, overwrite=overwrite,
        allow_schema_change=allow_schema_change, stats_cols=stats_cols,
        bloom_cols=bloom_cols, trusted_row_ids=_trusted_row_ids,
        wm_hint=_id_watermark_hint,
    )
    rule = None if match is None else _rewrite_rule(path, drop, base.get("dv", {}),
                                                    match=match)
    return _publish_staged(staged, mode=_mode_label or mode, rule=rule, drop=drop)


def commit_with_retry(df: DataFrame, path: str) -> int:
    """An append :func:`commit` (kept for its callers): the reconciling
    append — on a lost publish race it rebases onto the winner, the benign
    append/append case Delta retries automatically."""
    return commit(df, path)


def commit_rewrite_with_retry(
    df: DataFrame,
    path: str,
    *,
    replace,
    _trusted_row_ids: bool = False,
) -> int:
    """A ``replace`` :func:`commit` published under mode ``'replace'``
    (kept for its callers): a copy-on-write partial rewrite that rebases
    past concurrent writers whose touched-file sets are DISJOINT from its
    own (e.g. two compactions of different partitions) and raises
    :class:`ConcurrentWriteError` on a real conflict (:func:`_rewrite_rule`)."""
    return commit(df, path, replace=replace, _mode_label="replace",
                  _trusted_row_ids=_trusted_row_ids)


def _txn_dir(path: str) -> str:
    return os.path.join(path, _SNAP_DIR, "txn")


def _txn_status(status_path: str) -> str:
    """Read a transaction's status: 'committed' / 'aborted' / 'pending'.
    A missing file reads as 'pending' (conservative: never surface a
    version whose transaction outcome is unknown)."""
    try:
        with open(status_path) as f:
            return json.load(f).get("status", "pending")
    except FileNotFoundError:
        return "pending"


def _write_txn_status(status_path: str, doc: dict) -> None:
    os.makedirs(os.path.dirname(status_path), exist_ok=True)
    tmp = f"{status_path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        json.dump(doc, f, sort_keys=True)
    os.replace(tmp, status_path)


_TXN_DOC_KEYS = (
    "op", "path", "commit_dir", "new_schema", "has_row_id", "column_map",
    "dropped_physical", "constraints", "updates", "base_dv", "n_deleted",
    "dropped", "base_dv_dropped", "base_files",
)


def commit_transaction(
    frames: "list",
    *,
    max_retries: int = 5,
    spark: "SparkSession | None" = None,
) -> dict:
    """MULTI-TABLE ATOMIC TRANSACTION — the medallion consistency
    primitive neither Delta nor per-table Iceberg gives you: land one
    logical change across N tables (fact + derived, bronze + audit) with
    ALL-OR-NOTHING durability.  Three member kinds (r12 extends beyond
    append-only):

    - ``(df, path)`` — an APPEND (the original form).
    - ``{"op": "delete_dv", "path": p, "predicate": col}`` (or
      ``"keys": df, "key": name``) — a merge-on-read DELETE: positions
      are resolved against the stage-time snapshot and ride the intent
      doc; the publish rebases them through :func:`_rebase_dv_entries`
      with the same conflict rules as :func:`delete_where_dv`.
    - ``{"op": "rewrite", "path": p, "df": df, "replace": f -> bool}`` —
      a copy-on-write rewrite (``replace=lambda f: True`` is a full
      logical overwrite): replacement files stage durably, the dropped
      set is decided once against the stage-time snapshot, and the
      publish runs the :func:`commit_rewrite_with_retry` conflict rules.

    Together these cover the DELETE CASCADE a real lake needs atomic: DV
    the rows out of the fact table and rewrite the derived rollup in ONE
    transaction — a reader through :func:`read_version_committed` sees
    both or neither (the I4+I5 read-check-append/overwrite pairing of the
    reference's update/app.py:877-958 + 447-607, done atomically).

    Protocol (two-phase, coordinator = a status file in the FIRST table's
    log):

    1. STAGE: append/rewrite members write their data files to their
       own commit directories (every pre-write guard of :func:`_stage`,
       exactly as a plain :func:`commit`); delete members
       resolve their stage-time position sets — no manifest published,
       nothing visible.
    2. INTENT: one status file records {txn_id, pending, tables:[...]}
       atomically, carrying everything recovery needs (including each
       member's stage-time column map / constraints and, for deletes,
       the Δ-sized position sets — a production log would pack these as
       roaring bitmaps; the structure is identical).
    3. PUBLISH: each member publishes through its reconciling rebase,
       stamped ``txn: {id, status}``.
    4. COMMIT: the status file flips to 'committed' (one atomic rename —
       THE commit point).

    Crash/contention outcomes: nothing published → the transaction aborts
    cleanly (staged dirs deleted, status 'aborted'); some tables published
    → the log is repaired FORWARD by :func:`recover_transactions` (data is
    already durable; the remaining publishes are metadata-only).  Readers
    wanting transactional visibility use :func:`read_version_committed`,
    which skips top-of-log versions whose transaction is still pending;
    plain :func:`read_version` keeps its usual read-latest semantics (the
    documented read-uncommitted caveat, same as tailing any log store).
    Independent commits that rebase ON TOP of a pending transaction adopt
    its files — read-committed, not serializable, stated honestly.

    Returns {"txn_id", "versions": {path: version}}."""
    members: "list[dict]" = []
    for item in frames:
        if isinstance(item, (tuple, list)) and len(item) == 2:
            members.append({"op": "append", "df": item[0], "path": item[1]})
        elif isinstance(item, dict):
            m = dict(item)
            m.setdefault("op", "append")
            if m["op"] not in ("append", "delete_dv", "rewrite"):
                raise ValueError(f"commit_transaction: unknown op {m['op']!r}")
            members.append(m)
        else:
            raise ValueError(
                "commit_transaction members are (df, path) tuples or "
                "{'op': ...} dicts"
            )
    if len(members) < 2:
        raise ValueError("commit_transaction needs >= 2 tables (use commit)")
    paths = [m["path"] for m in members]
    if len(set(os.path.realpath(p) for p in paths)) != len(paths):
        raise ValueError("commit_transaction: duplicate table paths")
    for m in members:
        if "df" in m:
            spark = spark or m["df"].sparkSession
    if spark is None:
        raise ValueError(
            "commit_transaction: pass spark= when no member carries a frame"
        )
    txn_id = uuid.uuid4().hex[:16]
    staged = []
    try:
        for m in members:
            path = m["path"]
            v0, m0 = _head(path)
            if m["op"] != "append" and v0 == 0:
                raise ValueError(f"txn {m['op']} of {path}: table has no commits")
            if m["op"] == "delete_dv":
                from pyspark.sql import functions as F

                live = _scan_files(spark, m0["files"], m0, with_lineage=True)
                if m.get("keys") is not None:
                    if not m.get("key"):
                        raise ValueError("txn delete_dv: keys needs key=<column>")
                    hits = live.join(
                        F.broadcast(m["keys"].select(m["key"]).distinct()),
                        m["key"], "left_semi",
                    )
                else:
                    hits = live.where(F.coalesce(m["predicate"], F.lit(False)))
                updates = _collect_dv_updates(
                    hits.select("__file", "__pos"), set(m0["files"]),
                    "commit_transaction",
                )
                staged.append({
                    "op": "delete_dv", "path": path,
                    "updates": {f: [int(p) for p in ps]
                                for f, ps in updates.items()},
                    "base_dv": {f: m0["dv"][f] for f in updates
                                if f in m0.get("dv", {})},
                    "n_deleted": sum(len(ps) for ps in updates.values()),
                    "column_map": dict(m0.get("column_map", {})),
                    "dropped_physical": sorted(m0.get("dropped_physical", [])),
                    "constraints": dict(m0.get("constraints", {})),
                })
                continue
            # append and rewrite members stage like any commit; the
            # stage-time column map / dropped slots / constraints ride the
            # entry AND the status doc, so publish (and crash recovery)
            # compares what the data was WRITTEN under against the head it
            # rebases onto (ADVICE r11).  A rewrite's dropped set is decided
            # before its data lands, so a failing predicate stages nothing.
            entry = {"op": m["op"]}
            if m["op"] == "rewrite":
                dropped = sorted(f for f in m0["files"] if m["replace"](f))
                entry.update({
                    "dropped": dropped,
                    "base_dv_dropped": {f: m0.get("dv", {}).get(f) for f in dropped},
                    "base_files": sorted(m0["files"]),
                    "match": m["replace"],  # in-memory only, not serialized
                })
            entry.update(_stage(m["df"], path, m0, op="commit_transaction").doc())
            staged.append(entry)
        # shrink the schema-wedge window: re-validate EVERY member against
        # the now-current log right before the first publish — a rename or
        # constraint that landed during staging aborts cleanly here (nothing
        # visible yet) instead of wedging the transaction half-published
        for s in staged:
            _, now = _head(s["path"])
            _check_drift(s, now, f"txn {txn_id}: table {s['path']}")
            if "new_schema" in s:
                _check_schema(f"txn {txn_id}: table {s['path']} rejected "
                              "before publish", now.get("schema"), s["new_schema"])
    except BaseException:
        for t in staged:
            if t.get("commit_dir"):
                shutil.rmtree(t["commit_dir"], ignore_errors=True)
        raise
    status_path = os.path.join(_txn_dir(paths[0]), f"{txn_id}.json")
    _write_txn_status(status_path, {
        "txn_id": txn_id, "status": "pending",
        "owner": {"pid": os.getpid(), "host": _HOSTNAME, "ts": time.time()},
        "tables": [
            {k: s[k] for k in _TXN_DOC_KEYS if k in s} for s in staged
        ],
    })
    versions: "dict[str, int]" = {}
    for i, s in enumerate(staged):
        try:
            versions[s["path"]] = _publish_txn_member(
                spark, s, txn_id, status_path, max_retries
            )
        except (ConcurrentWriteError, SchemaEnforcementError):
            if i == 0:
                # nothing visible anywhere: clean abort
                for t in staged:
                    if t.get("commit_dir"):
                        shutil.rmtree(t["commit_dir"], ignore_errors=True)
                _write_txn_status(status_path, {
                    "txn_id": txn_id, "status": "aborted",
                })
            # else: partially published — stays 'pending'; data is durable,
            # recover_transactions(paths[0]) rolls the log forward
            raise
    _write_txn_status(status_path, {"txn_id": txn_id, "status": "committed"})
    return {"txn_id": txn_id, "versions": versions}


def _publish_txn_member(
    spark, entry: dict, txn_id: str, status_path: str, max_retries: int
) -> int:
    """Publish one staged transaction member under its op's conflict rule
    (append: none; rewrite: :func:`_rewrite_rule`; DV delete:
    :func:`_dv_delete_build`), stamped with the transaction marker."""
    op = entry.get("op", "append")
    if op == "delete_dv":
        return _publish_txn_delete_dv(
            spark, entry, txn_id, status_path, max_retries
        )
    if op == "rewrite":
        staged = _Staged.from_doc(entry)
        drop = set(entry["dropped"])
        rule = _rewrite_rule(
            entry["path"], drop,
            {f: e for f, e in entry.get("base_dv_dropped", {}).items() if e is not None},
            match=entry.get("match"),
            known=set(entry.get("base_files", [])) | set(staged.counts),
        )
        return _publish_staged(
            staged, mode="replace", rule=rule, drop=drop,
            txn={"id": txn_id, "status": status_path}, max_retries=max_retries,
        )
    return _publish_txn_table(spark, entry, txn_id, status_path, max_retries)


def _publish_txn_delete_dv(
    spark, entry: dict, txn_id: str, status_path: str, max_retries: int
) -> int:
    """Publish a staged DV-delete transaction member: the stage-time
    position sets rebase onto the head with the same conflict rules as
    :func:`delete_where_dv`.  A member that matched nothing is a no-op —
    no version burned, the table's current version reported."""
    path = entry["path"]
    updates = entry.get("updates", {})
    if not updates:
        return latest_version(path)
    build = _dv_delete_build(
        path, {**entry, "dv": entry.get("base_dv", {})}, lambda: updates,
        int(entry.get("n_deleted", 0)),
        f"txn {txn_id} delete_dv", txn={"id": txn_id, "status": status_path},
    )
    return _publish_loop(path, build, max_retries)


def _publish_txn_table(
    spark, entry: dict, txn_id: str, status_path: str, max_retries: int
) -> int:
    """Publish ONE staged transaction append, stamped with the transaction
    marker.  The column map / dropped slots / constraints the data was
    WRITTEN under come from the staged entry (recorded at stage time,
    carried in the status doc for recovery) — re-deriving them here would
    make the drift guard vacuous (ADVICE r11)."""
    return _publish_staged(
        _Staged.from_doc(entry), mode="append",
        txn={"id": txn_id, "status": status_path}, max_retries=max_retries,
    )


def _txn_owner_alive(doc: dict) -> bool:
    """Best-effort liveness probe of a pending transaction's writer: true
    only when the status doc records an owner on THIS host whose pid is
    still running.  A different host is unknowable from here (returns
    False) — which is exactly why ``min_age_s`` exists as the second
    guard."""
    owner = doc.get("owner") or {}
    if owner.get("host") != _HOSTNAME or not owner.get("pid"):
        return False
    try:
        os.kill(int(owner["pid"]), 0)
        return True
    except (OSError, ValueError):
        return False


def recover_transactions(
    spark: SparkSession,
    coordinator_path: str,
    *,
    force: bool = False,
    min_age_s: float = 0.0,
) -> dict:
    """Repair the log after a crashed/contended :func:`commit_transaction`
    whose coordinator lives in ``coordinator_path``'s log: a pending
    transaction with NO published table aborts (staged dirs deleted); one
    with SOME published tables rolls FORWARD (the remaining manifests
    publish from the already-durable staged files, then the status flips
    committed).  Idempotent; returns {txn_id: outcome}.

    Recovery must only run once the original writer is KNOWN DEAD —
    running it concurrently with a still-publishing writer would have both
    publish the same staged commit_dir, landing its files twice (ADVICE
    r11).  Two guards enforce that: a pending transaction whose recorded
    owner pid is still alive on this host is skipped (outcome
    ``skipped_owner_alive``), and one younger than ``min_age_s`` seconds is
    skipped (outcome ``skipped_young`` — the cross-host lease, since a
    remote writer's liveness is unknowable here).  ``force=True`` bypasses
    both, for the operator who has verified the writer is gone (e.g. this
    very process crashed mid-publish and is now recovering itself)."""
    d = _txn_dir(coordinator_path)
    out: "dict[str, str]" = {}
    if not os.path.isdir(d):
        return out
    for name in sorted(os.listdir(d)):
        if not name.endswith(".json"):
            continue
        status_path = os.path.join(d, name)
        with open(status_path) as f:
            doc = json.load(f)
        if doc.get("status") != "pending" or "tables" not in doc:
            continue
        txn_id = doc["txn_id"]
        if not force:
            if _txn_owner_alive(doc):
                out[txn_id] = "skipped_owner_alive"
                continue
            ts = (doc.get("owner") or {}).get("ts")
            if ts is not None and (time.time() - float(ts)) < min_age_s:
                out[txn_id] = "skipped_young"
                continue
        published: "dict[str, int]" = {}
        unpublished = []
        for t in doc["tables"]:
            v = _find_txn_version(t["path"], txn_id)
            if v:
                published[t["path"]] = v
            else:
                unpublished.append(t)
        if not published:
            for t in doc["tables"]:
                if t.get("commit_dir"):
                    shutil.rmtree(t["commit_dir"], ignore_errors=True)
            _write_txn_status(status_path, {"txn_id": txn_id, "status": "aborted"})
            out[txn_id] = "aborted"
            continue
        for t in unpublished:
            _publish_txn_member(spark, dict(t), txn_id, status_path,
                                max_retries=_MAX_RETRIES)
        _write_txn_status(status_path, {"txn_id": txn_id, "status": "committed"})
        out[txn_id] = "committed" if unpublished else "already_complete"
    return out


def abort_transaction(
    spark: SparkSession,
    coordinator_path: str,
    txn_id: str,
    *,
    rollback_published: bool = False,
) -> str:
    """OPERATOR abort for a wedged pending transaction — the escape hatch
    when roll-forward cannot succeed (e.g. a non-first table's publish
    fails persistently with a schema conflict, ADVICE r11).  A pending
    transaction with nothing published aborts cleanly (staged dirs
    deleted).  One with SOME tables published can only abort when every
    published transaction version is still at the HEAD of its table's log
    (``rollback_published=True`` then rolls each back): once an
    independent commit has rebased ON TOP, it adopted the transaction's
    files, and un-publishing would corrupt that successor — the abort
    refuses loudly and the operator must roll forward instead.  Returns
    the outcome string."""
    status_path = os.path.join(_txn_dir(coordinator_path), f"{txn_id}.json")
    with open(status_path) as f:
        doc = json.load(f)
    if doc.get("status") == "aborted":
        return "already_aborted"
    if doc.get("status") == "committed":
        raise ValueError(f"txn {txn_id} is committed — cannot abort")
    published: "list[tuple[dict, int]]" = []
    for t in doc.get("tables", []):
        v = _find_txn_version(t["path"], txn_id)
        if v:
            published.append((t, v))
    if published:
        if not rollback_published:
            raise ValueError(
                f"txn {txn_id}: {len(published)} table(s) already "
                "published — pass rollback_published=True to roll them "
                "back, or use recover_transactions to roll forward"
            )
        not_head = [
            (t["path"], v) for t, v in published
            if latest_version(t["path"]) != v
        ]
        if not_head:
            raise ValueError(
                f"txn {txn_id}: cannot abort — later commits rebased on "
                f"top of the published version(s) {not_head} and adopted "
                "their files; roll FORWARD with recover_transactions"
            )
        for t, v in published:
            rollback(t["path"], v - 1)
    # sweep only UNPUBLISHED stages: a published-then-rolled-back version
    # stays in history for forensics (the RESTORE contract), so its data
    # files must survive until vacuum reclaims them
    published_dirs = {t["commit_dir"] for t, _ in published if t.get("commit_dir")}
    for t in doc.get("tables", []):
        if t.get("commit_dir") and t["commit_dir"] not in published_dirs:
            shutil.rmtree(t["commit_dir"], ignore_errors=True)
    _write_txn_status(status_path, {"txn_id": txn_id, "status": "aborted"})
    return "aborted"


def _find_txn_version(path: str, txn_id: str) -> int:
    """The version a transaction published at ``path`` (0 if none).  Walks
    the log newest-first; transaction versions sit near the top by
    construction (a real catalog would index txn -> version)."""
    v = latest_version(path)
    while v >= 1:
        m = read_manifest(path, v)
        if (m.get("txn") or {}).get("id") == txn_id:
            return v
        v -= 1
    return 0


def latest_committed_version(path: str) -> int:
    """The newest version whose transaction (if any) is COMMITTED — the
    anchor for transactionally-consistent reads.  Skips top-of-log versions
    published by a still-pending :func:`commit_transaction`."""
    v = latest_version(path)
    while v >= 1:
        t = read_manifest(path, v).get("txn")
        if not t or _txn_status(t["status"]) == "committed":
            return v
        v -= 1
    return 0


def read_version_committed(spark: SparkSession, path: str) -> DataFrame:
    """Read the table at :func:`latest_committed_version` — a consumer that
    must never observe half of a multi-table transaction reads every
    participating table through this (all tables' pending versions point at
    the SAME status file, so the cut is consistent)."""
    v = latest_committed_version(path)
    if v == 0:
        raise ValueError(f"{path} has no committed versions")
    return read_version(spark, path, v)


def read_transaction_cut(
    spark: SparkSession, paths: "list[str]"
) -> "dict[str, tuple[int, DataFrame]]":
    """One TRANSACTIONALLY-CONSISTENT cut across N tables: each table
    pinned at its :func:`latest_committed_version`, resolved in one pass so
    a consumer never hand-rolls :func:`read_version_committed` per table.
    The cut is consistent by construction — every version a pending
    :func:`commit_transaction` published points at the SAME status file,
    so either the transaction's status flipped committed (all its versions
    are visible) or it didn't (none are); the frames returned are pinned
    file lists, immune to commits that land after this call.  Returns
    {path: (version, DataFrame)}."""
    out: "dict[str, tuple[int, DataFrame]]" = {}
    for p in paths:
        v = latest_committed_version(p)
        if v == 0:
            raise ValueError(f"{p} has no committed versions")
        out[p] = (v, read_version(spark, p, v))
    return out


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the table exactly as of ``version`` (default:
    latest).  Spark receives the explicit immutable file list, so later
    commits — appends, rewrites, compactions — cannot change this frame."""
    v = latest_version(path) if version is None else version
    m = read_manifest(path, v)
    if not m["files"]:
        raise ValueError(f"snapshot v{v} of {path} lists no files")
    return _scan_files(spark, m["files"], m)


def enable_row_tracking(path: str) -> int:
    """Turn on ROW TRACKING (the Delta row-tracking / Iceberg row-lineage
    feature) with a METADATA-ONLY commit: every existing file is assigned a
    ``base_row_id`` from the manifest's row counts in sorted-file order —
    zero data rewritten, instant at any table size.  From then on every row
    has a stable 64-bit ``_row_id`` (base + position for as-written files; a
    physical column for files produced by id-preserving rewrites), ids are
    NEVER reused (the watermark is monotonic across deletes and rollbacks),
    and :func:`optimize` / :func:`compact_files` / :func:`materialize_dvs`
    preserve ids across layout changes.  :func:`merge_upsert` is also
    id-preserving (r12, the Delta `preserved` feature bit): survivors keep
    their ids, matched delta rows inherit the pre-image identity, only new
    keys mint fresh ids.  The remaining re-minting path is the CoW
    :func:`delete_where` (use delete_where_dv on tracked tables); DV
    deletes and updates keep untouched rows' ids by construction."""
    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"enable_row_tracking of {path}: table has no commits")
    m0 = read_manifest(path, v0)
    if m0.get("row_tracking"):
        return v0
    if _ROW_ID in m0.get("schema", {}):
        raise ValueError(
            f"enable_row_tracking of {path}: the table schema already has a "
            f"column named {_ROW_ID!r} — the name is reserved for tracking"
        )
    rows = m0.get("rows", {})
    missing = [f for f in m0["files"] if f not in rows]
    if missing:
        raise ValueError(
            f"enable_row_tracking of {path}: {len(missing)} files lack row "
            "counts in the manifest — recommit or compact first"
        )
    wm = 0
    base: "dict[str, int]" = {}
    for f in sorted(m0["files"]):
        base[f] = wm
        wm += int(rows[f])
    new_v = v0 + 1
    manifest = _carry(m0)
    manifest.update({
        "version": new_v,
        "mode": "enable_row_tracking",
        "row_tracking": True,
        "row_id_watermark": wm,
        "base_row_ids": base,
    })
    _publish(path, new_v, manifest)
    return new_v


def _attach_row_ids(
    spark: SparkSession,
    files: "list[str]",
    manifest: dict,
    *,
    with_lineage: bool = False,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan ``files`` with the stable ``_row_id`` attached: position-derived
    files compute base + row position (the base map is manifest-sized and
    broadcast); materialized files read their physical column.  DVs and the
    column map apply through :func:`_scan_files` as on any other read.
    ``with_lineage=True`` additionally keeps ``__file``/``__pos`` — the
    id-preserving mutators need both the row identity AND the physical
    address of the pre-image."""
    from pyspark.sql import functions as F

    if not manifest.get("row_tracking"):
        raise ValueError("row tracking is not enabled on this table")
    mat = set(manifest.get("row_id_materialized", []))
    base = manifest.get("base_row_ids", {})
    derived = [f for f in files if f not in mat]
    missing = [f for f in derived if f not in base]
    if missing:
        raise ValueError(
            f"{len(missing)} files have neither a base row id nor a "
            "materialized id column — manifest corrupt"
        )
    frames = []
    if derived:
        df = _scan_files(
            spark, derived, manifest, with_lineage=True,
            merge_schema=merge_schema,
        )
        from us_equity_datalake_spark.sources.registry import local_frame

        bdf = local_frame(
            spark, [(f, int(base[f])) for f in derived], "__file string, __base long"
        )
        keyed = df.join(F.broadcast(bdf), "__file").withColumn(
            _ROW_ID, (F.col("__base") + F.col("__pos")).cast("long")
        ).drop("__base")
        frames.append(
            keyed if with_lineage else keyed.drop("__file", "__pos")
        )
    mat_files = sorted(mat & set(files))
    if mat_files:
        frames.append(
            _scan_files(
                spark, mat_files, manifest,
                keep_row_id=True, with_lineage=with_lineage,
                merge_schema=merge_schema,
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=merge_schema)
    return out


def read_version_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read WITH the stable row id: every logical column plus
    ``_row_id``.  The id is the join key that survives OPTIMIZE /
    compaction / REORG PURGE — the handle an incremental consumer or audit
    trail can hold across layout changes (Delta row tracking)."""
    v = latest_version(path) if version is None else version
    m = read_manifest(path, v)
    if not m["files"]:
        raise ValueError(f"snapshot v{v} of {path} lists no files")
    return _attach_row_ids(spark, m["files"], m)


def rename_column(path: str, old: str, new: str) -> int:
    """RENAME COLUMN as a metadata-only commit (Delta/Iceberg column
    mapping, name mode): data files are immutable and keep their original —
    physical — column names forever; the new manifest updates the logical
    schema and records ``column_map`` {logical: physical}.  Every reader
    applies the map at scan time (:func:`_apply_col_map`) and every writer
    un-applies it before the file lands, so old and new files always agree
    physically and no byte is rewritten.  Stats and bloom indexes — keyed
    by physical names — survive the rename, so manifest pruning on the NEW
    logical name keeps cutting files.  Time travel to a pre-rename version
    reads the OLD logical name: schema history is part of the log.

    The reference mutates parquet in place and would rewrite the table for
    a rename (update/app.py's single-file discipline); at 100 TB a rename
    must be O(manifest).  Returns the new version."""
    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"rename_column on {path}: table has no commits")
    m0 = read_manifest(path, v0)
    schema = dict(m0.get("schema") or {})
    if old not in schema:
        raise ValueError(f"rename_column: no column {old!r} in {sorted(schema)}")
    if new in schema:
        raise ValueError(f"rename_column: column {new!r} already exists")
    if new == _ROW_ID:
        raise ValueError(
            f"rename_column: {_ROW_ID!r} is reserved for row tracking"
        )
    _guard_constrained_column(m0, old, "rename_column")
    cmap = dict(m0.get("column_map", {}))
    physical = cmap.pop(old, old)
    if new != physical:
        cmap[new] = physical
    schema[new] = schema.pop(old)
    new_v = v0 + 1
    manifest = _carry(m0)
    manifest.pop("column_map", None)
    manifest.update({
        "version": new_v,
        "mode": "rename",
        "schema": schema,
        "renamed": {"from": old, "to": new},
    })
    if cmap:
        manifest["column_map"] = cmap
    _publish(path, new_v, manifest)
    return new_v


def _guard_constrained_column(manifest: dict, col: str, op: str) -> None:
    """A table constraint's SQL references LOGICAL column names; renaming or
    dropping a referenced column would silently break enforcement — the
    Delta rule is to reject until the constraint is dropped."""
    import re as _re

    hits = {
        name: sql
        for name, sql in manifest.get("constraints", {}).items()
        if _re.search(rf"\b{_re.escape(col)}\b", sql)
    }
    if hits:
        raise ValueError(
            f"{op}({col!r}) rejected: table constraint(s) reference the "
            f"column — drop them first: {hits}"
        )


def drop_column(path: str, col: str) -> int:
    """DROP COLUMN as a metadata-only commit (the drop half of column
    mapping): the bytes stay in the immutable files — old versions still
    read them — but the logical schema loses the column and every
    current-version scan projects its physical slot out
    (:func:`_drop_dead_cols`).  A later commit may NOT introduce a new
    column reusing the dropped physical slot (the stale bytes would
    resurrect into it) — that is a :class:`SchemaEnforcementError`; an
    OVERWRITE or OPTIMIZE rewrite rebaselines the table physically and
    clears the restriction.  Returns the new version."""
    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"drop_column on {path}: table has no commits")
    m0 = read_manifest(path, v0)
    schema = dict(m0.get("schema") or {})
    if col not in schema:
        raise ValueError(f"drop_column: no column {col!r} in {sorted(schema)}")
    if len(schema) == 1:
        raise ValueError("drop_column: cannot drop the only column")
    _guard_constrained_column(m0, col, "drop_column")
    cmap = dict(m0.get("column_map", {}))
    physical = cmap.pop(col, col)
    schema.pop(col)
    dropped = sorted(set(m0.get("dropped_physical", [])) | {physical})
    new_v = v0 + 1
    manifest = _carry(m0)
    manifest.pop("column_map", None)
    manifest.update({
        "version": new_v,
        "mode": "drop",
        "schema": schema,
        "dropped": {"column": col},
        "dropped_physical": dropped,
    })
    if cmap:
        manifest["column_map"] = cmap
    _publish(path, new_v, manifest)
    return new_v


def read_version_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    *,
    lo=None,
    hi=None,
    version: int | None = None,
) -> "tuple[DataFrame, dict]":
    """MANIFEST-LEVEL min/max file skipping on one column: keep the files
    whose recorded [min, max] for ``col`` overlaps [lo, hi] (either bound may
    be None = unbounded).  All-null files record no range and are KEPT.
    :func:`read_version_where` with one ``range`` atom."""
    return read_version_where(
        spark, path, [{"col": col, "op": "range", "lo": lo, "hi": hi}], version=version
    )


def read_version_point(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    *,
    version: int | None = None,
) -> "tuple[DataFrame, dict]":
    """POINT-LOOKUP file skipping: keep the files whose bloom filter for
    ``col`` MIGHT contain ``value`` (zero false negatives) — the cut that
    works on NON-CLUSTERED columns, where every file spans the full value
    range.  :func:`read_version_where` with one ``eq`` atom, so a recorded
    range that misses ``value``, or an all-null file, cuts too."""
    return read_version_where(
        spark, path, [{"col": col, "op": "eq", "value": value}], version=version
    )


def read_version_where(
    spark: SparkSession,
    path: str,
    atoms: "list[dict]",
    *,
    version: int | None = None,
) -> "tuple[DataFrame, dict]":
    """The data-skipping planner: compose EVERY manifest-level cut — min/max
    range, null-count, per-file bloom — conjunctively over one predicate
    before any file opens, decided in one driver pass over the KB-sized
    manifest.  At object-store scale the win is never listing, opening or
    fetching the skipped files.  :func:`read_version_pruned` (one ``range``
    atom) and :func:`read_version_point` (one ``eq`` atom) wrap it.

    ``atoms`` is a conjunction (AND) of predicate atoms:

    - ``{"col", "op": "range", "lo", "hi"}`` — the bare range cut from
      recorded [min, max]; either bound may be absent/None.  An all-null
      file records no range, so it is KEPT.
    - ``{"col", "op": "between", "lo", "hi"}`` — the range cut plus the
      NOT-NULL that SQL range semantics imply: it also drops files whose
      every row is null in ``col`` (the cut range stats alone cannot make).
    - ``{"col", "op": "eq", "value"}`` — range cut at lo=hi=value, PLUS
      the bloom-sidecar probe when the column is bloom-indexed, PLUS the
      all-null cut.
    - ``{"col", "op": "is_null"}`` / ``{"col", "op": "not_null"}`` — the
      null-count cuts (Delta ``nullCount``): drop files with a recorded
      null_count of 0 / equal to the file's rows.

    Missing stats/filters keep the file (conservative, per cut).  Pruning
    is a FILE-LIST cut, not a row filter — the caller still applies the
    row predicate.  Returns (frame, {"files_total", "files_scanned",
    "cut_by": {op-col label: files dropped by that atom first}}); a file
    is attributed to the FIRST atom that rejects it, so cut_by sums to
    files_total - files_scanned."""
    v = latest_version(path) if version is None else version
    m = read_manifest(path, v)
    stats = m.get("stats", {})
    bloom_cols = set(m.get("bloom_cols", []))
    norm = []
    for a in atoms:
        a = dict(a)
        a["col"] = _physical_col(m, a["col"])  # stats and blooms are keyed physically
        if a.get("op") not in ("range", "between", "eq", "is_null", "not_null"):
            raise ValueError(f"read_version_where: unknown atom op {a.get('op')!r}")
        norm.append(a)

    def _all_null(s) -> bool:
        return (s is not None and len(s) >= 4 and s[2] is not None
                and s[3] is not None and s[2] >= s[3])

    def rejects(a: dict, f: str) -> bool:
        s = stats.get(f, {}).get(a["col"])  # [min, max, null_count, rows]
        op = a["op"]
        if op == "is_null":
            return s is not None and len(s) >= 4 and s[2] == 0
        if op == "not_null":
            return _all_null(s)
        # between / eq imply NOT NULL: an all-null file can't match
        if op != "range" and _all_null(s):
            return True
        lo = a.get("value") if op == "eq" else a.get("lo")
        hi = a.get("value") if op == "eq" else a.get("hi")
        if s is not None and s[0] is not None:
            mn, mx = s[0], s[1]
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                return True
        if op == "eq" and a["col"] in bloom_cols:
            return not _bloom_might_contain(f, a["col"], a["value"])
        return False

    kept = []
    cut_by: "dict[str, int]" = {}
    for f in m["files"]:
        dropped = False
        for a in norm:
            if rejects(a, f):
                label = f"{a['op']}:{a['col']}"
                cut_by[label] = cut_by.get(label, 0) + 1
                dropped = True
                break
        if not dropped:
            kept.append(f)
    info = {"files_total": len(m["files"]), "files_scanned": len(kept),
            "cut_by": cut_by}
    if not kept:
        return read_version(spark, path, v).limit(0), info
    return _scan_files(spark, kept, m), info


def history(path: str) -> "list[dict]":
    """DESCRIBE HISTORY: one row per surviving manifest — version, mode,
    commit timestamp, file count, and the mode-specific extras (rollback
    target, clone source).  Driver-side and manifest-sized; the audit
    surface an operator checks before a rollback or vacuum."""
    rows = []
    for v in range(1, latest_version(path) + 1):
        if not os.path.exists(_snap_path(path, v)):
            continue
        m = read_manifest(path, v)
        row = {
            "version": v,
            "mode": m.get("mode"),
            "committed_at": m.get("committed_at"),
            "n_files": len(m.get("files", [])),
        }
        for extra in ("rolled_back_to", "cloned_from", "renamed", "dropped"):
            if extra in m:
                row[extra] = m[extra]
        rows.append(row)
    return rows


def table_count(path: str, version: int | None = None) -> "int | None":
    """COUNT(*) answered from the MANIFEST — zero Spark jobs, zero file
    opens (the Delta/Iceberg metadata-query fast path: per-file row counts
    were captured from the footers at commit time).  Returns None when the
    version predates row-count capture for any of its files (fall back to
    a scan)."""
    v = latest_version(path) if version is None else version
    m = read_manifest(path, v)
    rows = m.get("rows", {})
    if any(f not in rows for f in m["files"]):
        return None
    # deletion vectors subtract from the metadata answer: the manifest
    # records both the file's physical row count and its DV cardinality,
    # so merge-on-read deletes keep COUNT(*) a zero-job query
    n_deleted = sum(e["n"] for e in m.get("dv", {}).values())
    return sum(rows[f] for f in m["files"]) - n_deleted


def version_asof(path: str, ts: float) -> int:
    """The last version committed at or before epoch-seconds ``ts`` (the
    Delta ``TIMESTAMP AS OF`` resolution).  Raises if the table has no
    commit that old."""
    best = 0
    for v in range(1, latest_version(path) + 1):
        p = _snap_path(path, v)
        if not os.path.exists(p):
            continue
        at = read_manifest(path, v).get("committed_at")
        if at is not None and at <= ts:
            best = v
    if best == 0:
        raise ValueError(f"{path} has no version committed at or before {ts}")
    return best


def read_version_asof(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """Time travel BY TIMESTAMP: the table as of epoch-seconds ``ts``."""
    return read_version(spark, path, version_asof(path, ts))


def rollback(path: str, to_version: int) -> int:
    """Instant rollback: publish a NEW manifest whose file list is the old
    version's — no data movement, and the bad versions stay readable for
    forensics (the Delta RESTORE semantics)."""
    target = read_manifest(path, to_version)
    cur_v = latest_version(path)
    m_cur = read_manifest(path, cur_v)
    new_v = cur_v + 1
    manifest = {
        **_carry(target),
        "version": new_v,
        "mode": "rollback",
        "rolled_back_to": to_version,
    }
    if manifest.get("row_tracking") or m_cur.get("row_tracking"):
        # row ids are NEVER reused: the watermark stays at the table's
        # all-time high even though the rolled-back rows' ids leave the
        # live set — a post-rollback append must not re-mint them
        manifest["row_tracking"] = True
        wm = max(
            int(target.get("row_id_watermark", 0)),
            int(m_cur.get("row_id_watermark", 0)),
        )
        if not target.get("row_tracking"):
            # rolled back PAST the enable commit: re-derive base ids for
            # the target's files from FRESH watermark ranges (their
            # pre-enable ids are unknowable; uniqueness is the contract)
            base: "dict[str, int]" = {}
            rows = target.get("rows", {})
            for f in sorted(target["files"]):
                base[f] = wm
                wm += int(rows.get(f, 0))
            manifest["base_row_ids"] = base
            manifest.pop("row_id_materialized", None)
        manifest["row_id_watermark"] = wm
    _publish(path, new_v, manifest)
    return new_v


def _clone_registrations(path: str) -> "list[dict]":
    """Clone back-references registered against this table (one JSON file
    per registration under ``_snapshots/`` — unique names, so registering
    never races another writer)."""
    d = os.path.join(path, _SNAP_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for f in sorted(os.listdir(d)):
        if f.startswith("clone_") and f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out.append(json.load(fh))
    return out


def clone(src_path: str, dst_path: str, *, version: int | None = None) -> int:
    """Zero-copy SHALLOW CLONE (the Delta CLONE semantics): publish a v1
    manifest at ``dst_path`` that references the source version's files —
    no data copied, instant at any size.  Because data files are immutable
    and each table's log is independent, later commits to either table
    never affect the other.

    The clone also REGISTERS itself in the source's log (a back-reference
    file carrying the pinned file list), which upgrades the documented
    Delta caveat into a contract: :func:`vacuum` on the source keeps every
    file a registered clone pins, so the clone stays readable after the
    source expires its own history.  The registration is self-contained
    (it embeds the pinned paths), so the pin survives even after the
    pinned source MANIFEST is itself expired."""
    v = latest_version(src_path) if version is None else version
    src = read_manifest(src_path, v)
    if latest_version(dst_path) != 0:
        raise ValueError(f"clone target {dst_path} already has commits")
    manifest = {
        **_carry(src),
        "version": 1,
        "mode": "clone",
        "cloned_from": {"path": src_path, "version": v},
    }
    _publish(dst_path, 1, manifest)
    reg = {
        "clone_path": os.path.realpath(dst_path),
        "version": v,
        "files": src["files"],
        # pin DV sidecars too: the clone's manifest references the SOURCE's
        # deletion vectors by path, so the source's vacuum must keep them
        "dv_files": sorted(e["path"] for e in src.get("dv", {}).values()),
        "registered_at": time.time(),
    }
    reg_path = os.path.join(
        src_path, _SNAP_DIR, f"clone_{uuid.uuid4().hex[:12]}.json"
    )
    with open(reg_path, "w") as f:
        json.dump(reg, f, sort_keys=True)
    return 1


def vacuum(path: str, *, keep_last: int = 1) -> list[str]:
    """Expire history: delete data files referenced ONLY by manifests older
    than the last ``keep_last`` versions, and drop those manifests.  Time
    travel beyond the horizon is gone after this — that is the point (the
    Delta VACUUM / Iceberg expire_snapshots trade: reclaim bytes, lose
    history).  Returns the deleted file paths.

    Two safety contracts (ADVICE/VERDICT r8):

    - **Ownership**: only files physically located under ``path`` are ever
      deleted.  A shallow clone's manifests reference the SOURCE table's
      files; vacuuming a diverged clone must reclaim only the clone's own
      bytes, never reach into the source.
    - **Clone pins**: files pinned by a registered clone (see
      :func:`clone`) are kept even when every manifest referencing them
      falls outside the keep window — a clone pins bytes physically, not
      just logically, until its registration file is removed."""
    last = latest_version(path)
    if last == 0:
        return []
    keep_versions = [v for v in range(max(1, last - keep_last + 1), last + 1)
                     if os.path.exists(_snap_path(path, v))]
    keep_files: set[str] = set()
    keep_dv: set[str] = set()
    for v in keep_versions:
        m = read_manifest(path, v)
        keep_files.update(m["files"])
        keep_dv.update(e["path"] for e in m.get("dv", {}).values())
    for reg in _clone_registrations(path):
        keep_files.update(reg.get("files", []))
        keep_dv.update(reg.get("dv_files", []))
    root = os.path.realpath(path)
    removed: list[str] = []
    for v in range(1, last + 1):
        p = _snap_path(path, v)
        if v in keep_versions or not os.path.exists(p):
            continue
        m = read_manifest(path, v)
        for f in m["files"]:
            owned = os.path.realpath(f).startswith(root + os.sep)
            if f not in keep_files and owned and os.path.exists(f):
                os.remove(f)
                removed.append(f)
                sc = _bloom_sidecar(f)
                if os.path.exists(sc):
                    os.remove(sc)  # the index rides with its data file
        # deletion-vector sidecars are version-scoped log artifacts: expire
        # them with their manifest unless a kept version or a registered
        # clone still references the same sidecar
        for e in m.get("dv", {}).values():
            dvp = e["path"]
            owned = os.path.realpath(dvp).startswith(root + os.sep)
            if dvp not in keep_dv and owned and os.path.exists(dvp):
                os.remove(dvp)
                removed.append(dvp)
        # sweep ORPHANED sidecars staged under this version but never
        # published (a DV writer that lost its publish race and rebased, or
        # a retried executor task): no manifest references them, so the
        # per-entry pass above cannot see them
        dvdir = os.path.join(path, _SNAP_DIR, "dv", f"v{v:06d}")
        if os.path.isdir(dvdir):
            for name in os.listdir(dvdir):
                dvp = os.path.join(dvdir, name)
                if dvp not in keep_dv and os.path.isfile(dvp):
                    os.remove(dvp)
                    removed.append(dvp)
        os.remove(p)
    return removed


def read_version_merged(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Time-travel read with schema evolution: commits may ADD columns over
    the table's life; ``mergeSchema`` unions the per-file schemas (absent
    columns read as null) — the additive half of schema evolution, which is
    the only half immutable files can express without a rewrite."""
    v = latest_version(path) if version is None else version
    m = read_manifest(path, v)
    return _scan_files(spark, m["files"], m, merge_schema=True)


def merge_upsert(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    key: str,
    allow_schema_evolution: bool = False,
) -> dict:
    """MERGE INTO the latest snapshot (upsert): rows of ``delta`` whose
    ``key`` exists in the table REPLACE the current row; new keys are
    inserted — one copy-on-write commit.

    ``allow_schema_evolution=True`` is Delta's ``withSchemaEvolution()``:
    a delta carrying NEW columns widens the table schema additively
    (surviving rows of rewritten files and all carried-over files read the
    new columns as NULL via :func:`read_version_merged`); a delta MISSING
    existing columns fills them with NULL on its own rows (whole-row
    replace semantics).  Without the flag both directions raise — silent
    widening is how a typo'd producer forks a 100 TB schema.

    The Delta-style file pruning is the point at 100 TB: only data files
    that actually CONTAIN a matched key are rewritten.  The touched-file
    set comes from one semi-join of the current version (tagged with
    ``input_file_name``) against the delta keys; untouched files carry over
    into the new manifest by reference.  With a key-clustered layout
    (``repartitionByRange`` on the key at write time, or the z-order
    writer) a localized delta touches O(delta) files, not the table.

    On a ROW-TRACKED table the MERGE is ID-PRESERVING (the Delta
    ``preserved`` row-tracking contract, r12): surviving rows of rewritten
    files keep their ``_row_id`` (threaded through the lineage scan into
    the replacement files as a physical column), a matched key's delta row
    INHERITS the pre-image's id (the row changed value, not identity — the
    same rule as update_where_dv), and only genuinely NEW keys mint fresh
    ids above the watermark (declared to the manifest so racing appenders
    stay disjoint).  The id-carrying change feed
    (:func:`change_feed_row_ids`) crosses such a merge as a by-identity
    diff of the touched files.  Requires a key-unique delta — inheriting
    one identity into two delta rows would mint a duplicate.

    Returns {"version", "files_total", "files_rewritten"}.
    """
    from pyspark.sql import functions as F

    m = read_manifest(path, latest_version(path))
    tracked = bool(m.get("row_tracking"))
    # lineage-bearing scan: __file is the decoded manifest path captured at
    # the leaves (safe across shuffles, DV-aware — deleted rows can neither
    # match nor survive), replacing the old input_file_name() tagging.
    # merge_schema: on an additively-evolved table the survivors must carry
    # the FULL table schema, or the rewrite would silently drop the newest
    # columns from every surviving row (schema sampled from an old file).
    current = (
        _attach_row_ids(spark, m["files"], m, with_lineage=True,
                        merge_schema=True)
        if tracked
        else _scan_files(spark, m["files"], m, with_lineage=True,
                         merge_schema=True)
    )
    keys = delta.select(key).distinct()
    touched_set = {
        r["__file"]
        for r in current.join(keys, key, "left_semi").select("__file").distinct().collect()
    }
    manifest_files = set(m["files"])
    unknown = touched_set - manifest_files
    if unknown:
        raise ValueError(
            f"merge_upsert: {len(unknown)} touched file(s) not in the "
            f"manifest of {path} (path decoding mismatch): {sorted(unknown)[:3]}"
        )
    n_total = len(manifest_files)

    touched_rows = current.where(F.col("__file").isin(list(touched_set)))
    if tracked:
        # the touched-file scan has FOUR consumers on the tracked path
        # (survivors, pre_ids, the Δ probe via delta_ids, and the commit
        # write re-running all of them) — materialize the O(touched-files)
        # rows once (r13).  Untracked merges read touched_rows exactly once
        # (inside the write), so they skip the checkpoint.
        from us_equity_datalake_spark.operators._cache import materialize_once

        touched_rows = materialize_once(touched_rows)
    survivors = (
        touched_rows.drop("__file", "__pos").join(keys, key, "left_anti")
    )
    wm_hint = None
    if tracked:
        if _ROW_ID in delta.columns:
            _reject_external_row_ids(path, "merge_upsert delta")
        # matched delta rows inherit the pre-image id (min over the key's
        # rows: a multi-row key collapses to one row, the smallest id
        # survives and the others surface as 'delete' in the by-id feed)
        pre_ids = (
            touched_rows.join(keys, key, "left_semi")
            .groupBy(key).agg(F.min(_ROW_ID).alias(_ROW_ID))
        )
        delta_ids = delta.join(pre_ids, key, "left")
        wm = int(m.get("row_id_watermark", 0))
        from pyspark.sql import Window

        # ONE Δ-sized aggregate yields both pre-commit probes: the
        # key-uniqueness guard (rows > distinct keys; the struct wrapper
        # keeps NULL keys countable, matching the old groupBy semantics)
        # and the fresh-id count for the watermark advance — the old shape
        # ran a limit(1).count() and then a separate new_part.count().
        st = delta_ids.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(key)).alias("nk"),
            F.sum(F.col(_ROW_ID).isNull().cast("long")).alias("n_new"),
        ).collect()[0]
        if int(st["n"]) != int(st["nk"]):
            raise ValueError(
                f"merge_upsert of {path}: the delta has duplicate {key!r} "
                "values — on a row-tracked table each matched key's delta "
                "row inherits ONE pre-image identity; dedup the delta first"
            )
        # fresh ids for genuinely new keys: watermark + dense order over
        # the new keys.  The global window runs over the NEW-KEY SUBSET of
        # one merge batch (Δ-sized by definition), not the table.
        new_part = delta_ids.where(F.col(_ROW_ID).isNull()).withColumn(
            _ROW_ID,
            (F.lit(wm - 1) + F.row_number().over(Window.orderBy(key)))
            .cast("long"),
        )
        matched_part = delta_ids.where(F.col(_ROW_ID).isNotNull())
        n_new = int(st["n_new"] or 0)
        wm_hint = wm + n_new
        delta = matched_part.unionByName(new_part)
    new_rows = survivors.unionByName(
        delta, allowMissingColumns=allow_schema_evolution
    )
    # a file added after m may hold a key this merge inserts: any unseen
    # file conflicts (a rebase would land that key twice)
    v = commit(
        new_rows, path, replace=lambda f: f in touched_set or f not in manifest_files,
        _mode_label="merge", _trusted_row_ids=tracked,
        _id_watermark_hint=wm_hint, _base=m,
    )
    return {"version": v, "files_total": n_total, "files_rewritten": len(touched_set)}


def delete_where(spark: SparkSession, path: str, predicate) -> dict:
    """DELETE FROM the latest snapshot: rewrite only the data files that
    contain a matching row (same input_file_name pruning as merge_upsert);
    files with no matches carry over by reference.  ``predicate`` is a
    Column.  SQL DELETE semantics: rows where the predicate is NULL are
    KEPT — touched-file detection treats NULL as no-match (a file whose
    only predicate hits are NULL is never rewritten), and within a
    rewritten file survivors are ``NOT coalesce(pred, FALSE)`` so a
    NULL-valued row co-located with matched rows survives the rewrite.
    Returns {"version", "files_total", "files_rewritten"}."""
    from pyspark.sql import functions as F

    m = read_manifest(path, latest_version(path))
    current = _scan_files(spark, m["files"], m, with_lineage=True)
    touched_set = {
        r["__file"]
        for r in current.where(predicate).select("__file").distinct().collect()
    }
    manifest_files = set(m["files"])
    unknown = touched_set - manifest_files
    if unknown:
        raise ValueError(
            f"delete_where: {len(unknown)} touched file(s) not in the "
            f"manifest of {path} (path decoding mismatch): {sorted(unknown)[:3]}"
        )
    n_total = len(manifest_files)
    survivors = (
        current.where(F.col("__file").isin(list(touched_set)))
        .where(~F.coalesce(predicate, F.lit(False)))
        .drop("__file", "__pos")
    )
    # a file added after m may hold rows the predicate matches: any unseen
    # file conflicts, the same rule as a merge
    v = commit(survivors, path,
               replace=lambda f: f in touched_set or f not in manifest_files, _base=m)
    return {"version": v, "files_total": n_total, "files_rewritten": len(touched_set)}


def _collect_dv_updates(hits: DataFrame, manifest_files: "set[str]", op: str) -> "dict[str, list[int]]":
    """(file, position) hits -> {file: positions}, validated against the
    manifest.  One driver collect bounded by the MATCHED row count.  Used by
    :func:`update_where_dv`, whose matched rows are re-written as new data
    files anyway (the post-images) — so the update's cost is bounded by the
    rewrite, not this metadata, and a bulk update belongs on the
    copy-on-write path regardless.  Bulk DELETES (position metadata only)
    go through :func:`_stage_dv_sidecars`, which writes sidecars
    executor-side past ``DV_DRIVER_MAX_POSITIONS``."""
    from pyspark.sql import functions as F

    rows = hits.groupBy("__file").agg(F.collect_list("__pos").alias("ps")).collect()
    updates = {r["__file"]: [int(p) for p in r["ps"]] for r in rows}
    unknown = set(updates) - manifest_files
    if unknown:
        raise ValueError(
            f"{op}: {len(unknown)} touched file(s) not in the manifest "
            f"(path decoding mismatch): {sorted(unknown)[:3]}"
        )
    return updates


def _stage_dv_sidecars(
    spark: SparkSession,
    path: str,
    version: int,
    hits: DataFrame,
    prev_dv: dict,
    manifest_files: "set[str]",
    op: str,
) -> "tuple[dict, int]":
    """Write per-file deletion-vector sidecars for ``version`` (merging each
    file's previous vector) and return ({file: manifest_entry}, n_new_hits).

    Routed by hit count like the read path (:func:`_scan_files`): small
    deletes collect positions to the driver (cheap, no extra shuffle);
    above ``DV_DRIVER_MAX_POSITIONS`` the sidecars are written
    EXECUTOR-side (``applyInPandas`` per file) and the driver sees only
    per-file metadata — a 10⁸-position right-to-be-forgotten sweep stages
    with flat driver memory.  Executor writes are task-retry-safe (tmp +
    atomic rename) and assume the shared filesystem the rest of the log
    already requires.  Nothing is written when no row matches."""
    from pyspark.sql import functions as F

    hits = hits.persist()
    try:
        # ONE grouped pass for both the routing count and the (capped)
        # positions: the old shape ran a count aggregate, then a second
        # collect_list aggregate over the same persisted hits — two shuffle
        # jobs per DV op where one suffices.  ``slice`` caps the per-file
        # DRIVER transfer at the routing threshold, so a huge sweep still
        # reaches the driver as bounded rows and takes the executor-side
        # sidecar path below on the exact counts.
        rows = hits.groupBy("__file").agg(
            F.count("*").alias("n"),
            F.slice(F.collect_list("__pos"), 1, DV_DRIVER_MAX_POSITIONS + 1).alias("ps"),
        ).collect()
        per_file = {r["__file"]: int(r["n"]) for r in rows}
        unknown = set(per_file) - manifest_files
        if unknown:
            raise ValueError(
                f"{op}: {len(unknown)} touched file(s) not in the manifest "
                f"(path decoding mismatch): {sorted(unknown)[:3]}"
            )
        n_new = sum(per_file.values())
        if n_new == 0:
            return {}, 0
        if n_new <= DV_DRIVER_MAX_POSITIONS:
            # every per-file list is complete: n_file <= n_new <= the cap
            entries: dict = {}
            for r in rows:
                f = r["__file"]
                merged = {int(p) for p in r["ps"]}
                if f in prev_dv:
                    merged.update(_read_dv_positions(prev_dv[f]))
                entries[f] = _write_dv_sidecar(path, version, f, merged)
            return entries, n_new

        prev_paths = {f: e["path"] for f, e in prev_dv.items()}

        def write_group(pdf):
            import base64
            import uuid as _uuid

            import numpy as np
            import pandas as pd

            f = pdf["__file"].iloc[0]
            pos = {int(p) for p in pdf["__pos"]}
            pp = prev_paths.get(f)
            if pp:
                with open(pp) as fh:
                    d = json.load(fh)
                pos.update(
                    int(p)
                    for p in np.frombuffer(
                        base64.b64decode(d["positions"]), dtype=np.uint64
                    )
                )
            arr = np.array(sorted(pos), dtype=np.uint64)
            # unique per-write name (racing DV commits must not clobber each
            # other's staging); the driver learns the path from the result
            sc = _dv_sidecar(path, version, f, token=_uuid.uuid4().hex[:8])
            os.makedirs(os.path.dirname(sc), exist_ok=True)
            tmp = f"{sc}.tmp.{_uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(
                    {"file": f, "n": int(arr.size),
                     "positions": base64.b64encode(arr.tobytes()).decode()},
                    fh,
                )
            os.replace(tmp, sc)
            return pd.DataFrame(
                {"file": [f], "n": [int(arr.size)], "sc": [sc]}
            )

        meta = hits.groupBy("__file").applyInPandas(
            write_group, "file string, n long, sc string"
        ).collect()
        entries = {
            r["file"]: {"path": r["sc"], "n": int(r["n"])} for r in meta
        }
        return entries, n_new
    finally:
        hits.unpersist()


def _dv_positions_arr(entry: "dict | None"):
    """A DV manifest entry's positions as a uint64 numpy array ([] for
    None) — the rebase path's working representation."""
    import numpy as np

    if not entry:
        return np.array([], dtype=np.uint64)
    return np.array(_read_dv_positions(entry), dtype=np.uint64)


def _rebase_dv_entries(
    path: str,
    new_v: int,
    base_dv: dict,
    cur_dv: dict,
    ours_new_by_file: "dict[str, object]",
    cur_files: "set[str]",
    op: str,
) -> dict:
    """Merge OUR new deletion-vector positions onto the CURRENT manifest's
    vectors after losing a publish race — the benign DV/DV concurrency case
    Delta auto-resolves (two writers vectoring DISJOINT rows both land).

    For each file we touched: if the race winner(s) did not grow that
    file's vector, our positions simply merge over the current vector; if
    they DID, the winners' new positions (current minus the base we read)
    must be disjoint from ours — an overlap means both transactions
    vectored the same physical row (for an UPDATE, a lost update; for a
    DELETE, a double-delete we surface rather than silently absorb, the
    conservative Delta rule) and raises :class:`ConcurrentWriteError`.
    A file the winner REWROTE (gone from the current manifest) can never
    rebase: our positions name rows of a dead file.

    Driver-side by design: conflicts are rare, and the arrays involved are
    bounded by the conflicting files' vector sizes.  Returns the merged
    {file: sidecar entry} for OUR touched files, written under ``new_v``."""
    import numpy as np

    out: dict = {}
    for f, ours in sorted(ours_new_by_file.items()):
        if f not in cur_files:
            raise ConcurrentWriteError(
                f"{op} of {path}: file {f} was rewritten by a concurrent "
                "commit; its positions no longer exist — rerun the "
                "transaction against the new snapshot"
            )
        ours_arr = np.array(sorted(int(p) for p in ours), dtype=np.uint64)
        base_arr = _dv_positions_arr(base_dv.get(f))
        cur_e = cur_dv.get(f)
        if cur_e is None or cur_e == base_dv.get(f):
            merged = np.union1d(ours_arr, base_arr)
        else:
            cur_arr = _dv_positions_arr(cur_e)
            winner_new = np.setdiff1d(cur_arr, base_arr, assume_unique=True)
            clash = np.intersect1d(ours_arr, winner_new, assume_unique=True)
            if clash.size:
                raise ConcurrentWriteError(
                    f"{op} of {path}: a concurrent commit vectored "
                    f"{int(clash.size)} of the same row position(s) in {f} "
                    "— overlapping row-level writes cannot be auto-merged; "
                    "rerun the transaction against the new snapshot"
                )
            merged = np.union1d(cur_arr, ours_arr)
        out[f] = _write_dv_sidecar(path, new_v, f, merged)
    return out


def _dv_delete_build(
    path: str,
    base: dict,
    ours,
    n_deleted: int,
    op: str,
    *,
    staged: "tuple[int, dict] | None" = None,
    txn: "dict | None" = None,
):
    """The :func:`_publish_loop` build of a merge-on-read DELETE: carry the
    head manifest and point the touched files at vectors that hold our
    deleted positions.  ``staged`` = (version, {file: entry}) names
    sidecars already written for a publish on top of that version, used
    as they are while it is still the head.  On any other head our NEW
    positions per file (``ours()``) rebase through
    :func:`_rebase_dv_entries`: disjoint vectors merge, overlapping
    positions or a rewritten file raise — the benign DV/DV concurrency
    Delta auto-resolves, and no more."""

    def build(prev_v: int, prev: dict) -> dict:
        _check_drift(base, prev, f"{op} of {path}")
        if staged is not None and prev_v == staged[0]:
            merged = staged[1]
        else:
            merged = _rebase_dv_entries(
                path, prev_v + 1, base.get("dv", {}), prev.get("dv", {}),
                ours(), set(prev["files"]), op,
            )
        m = {**_carry(prev), "mode": "delete_dv",
             "dv": {**prev.get("dv", {}), **merged}, "dv_rows_deleted": n_deleted}
        if txn is not None:
            m["txn"] = txn
        return m

    return build


def delete_where_dv(
    spark: SparkSession,
    path: str,
    predicate=None,
    *,
    keys: "DataFrame | None" = None,
    key: "str | None" = None,
    max_retries: int = 5,
) -> dict:
    """DELETE FROM ... via DELETION VECTORS (merge-on-read): record the
    matching rows' positions in per-file sidecars and publish a manifest
    that points at them — ZERO data files rewritten, deletes visible to
    every reader immediately, COUNT(*) still metadata-only.  The physical
    purge is deferred to :func:`materialize_dvs`, OPTIMIZE, or any
    copy-on-write rewrite that touches the file (all of which apply and
    then shed the vectors).

    Rows to delete are selected either by ``predicate`` (a Column
    expression over the live rows) or by ``keys``/``key`` — a DataFrame of
    key values matched with a broadcast semi-join.  The keys form is the
    CDC-apply shape: a change batch carries thousands-to-millions of keys,
    which as an ``isin`` literal would explode the plan; as a broadcast
    join it stays one O(Δ)-sized exchange however large the batch.

    Same NULL semantics as :func:`delete_where` (NULL predicate = keep).
    Selection is evaluated over LIVE rows only, so repeating a delete
    is idempotent and vectors accumulate monotonically until a rewrite.
    Returns {"version", "files_total", "files_with_dv", "rows_deleted",
    "files_rewritten": 0}.
    """
    from pyspark.sql import functions as F

    if (predicate is None) == (keys is None):
        raise ValueError("delete_where_dv: pass exactly one of predicate / keys")
    if keys is not None and not key:
        raise ValueError("delete_where_dv: keys needs key=<column name>")
    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"delete_where_dv of {path}: table has no commits")
    m0 = read_manifest(path, v0)
    live = _scan_files(spark, m0["files"], m0, with_lineage=True)
    if keys is not None:
        hits = live.join(
            F.broadcast(keys.select(key).distinct()), key, "left_semi"
        ).select("__file", "__pos")
    else:
        hits = live.where(F.coalesce(predicate, F.lit(False))).select("__file", "__pos")
    prev_dv = m0.get("dv", {})
    entries, n_deleted = _stage_dv_sidecars(
        spark, path, v0 + 1, hits, prev_dv, set(m0["files"]), "delete_where_dv"
    )
    if n_deleted == 0:  # nothing matched: don't burn a version on a no-op
        return {
            "version": v0,
            "files_total": len(m0["files"]),
            "files_with_dv": len(prev_dv),
            "rows_deleted": 0,
            "files_rewritten": 0,
        }

    def ours():
        # our NEW positions per file: the staged vector minus the base one
        import numpy as np

        return {
            f: np.setdiff1d(_dv_positions_arr(e), _dv_positions_arr(prev_dv.get(f)),
                            assume_unique=True)
            for f, e in entries.items()
        }

    build = _dv_delete_build(path, m0, ours, n_deleted, "delete_where_dv",
                             staged=(v0, entries))
    v = _publish_loop(path, build, max_retries)
    m = read_manifest(path, v)
    return {
        "version": v,
        "files_total": len(m["files"]),
        "files_with_dv": len(m["dv"]),
        "rows_deleted": n_deleted,
        "files_rewritten": 0,
    }


def update_where_dv(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: "dict[str, object]",
) -> dict:
    """UPDATE ... SET ... via deletion vectors (the Iceberg v2 merge-on-read
    UPDATE): ONE atomic commit that (a) appends the updated row images as
    new files and (b) DVs the old images out of their files — no existing
    file rewritten, readers before the publish see the old rows, readers
    after see exactly the new ones.  ``assignments`` maps column name ->
    Column expression evaluated on the matched rows.  Returns {"version",
    "rows_updated", "files_with_dv", "files_rewritten": 0}.
    """
    from pyspark.sql import functions as F

    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"update_where_dv of {path}: table has no commits")
    m0 = read_manifest(path, v0)
    # row tracking: thread _row_id through the pre-image scan so the
    # post-image files MATERIALIZE the same ids — a row keeps its identity
    # across an UPDATE (Delta's preserved row tracking), which is what lets
    # a consumer pair CDF pre/post images by id instead of by key
    live = (
        _attach_row_ids(spark, m0["files"], m0, with_lineage=True)
        if m0.get("row_tracking")
        else _scan_files(spark, m0["files"], m0, with_lineage=True)
    )
    # matched is Δ-sized and has TWO consumers — the position collect below
    # and the post-image commit write — each of which would otherwise
    # execute the full live scan (two table scans per UPDATE at any scale);
    # materialize it once (r13)
    from us_equity_datalake_spark.operators._cache import materialize_once

    matched = materialize_once(live.where(F.coalesce(predicate, F.lit(False))))
    updates = _collect_dv_updates(
        matched.select("__file", "__pos"), set(m0["files"]), "update_where_dv"
    )
    n_updated = sum(len(v) for v in updates.values())
    if n_updated == 0:  # nothing matched: don't burn a version on a no-op
        return {
            "version": v0,
            "rows_updated": 0,
            "files_with_dv": len(m0.get("dv", {})),
            "files_rewritten": 0,
        }
    new_images = matched.drop("__file", "__pos")
    existing = {f.name: f.dataType for f in new_images.schema.fields}
    if _ROW_ID in assignments:
        raise ValueError(f"update_where_dv: {_ROW_ID!r} is reserved")
    for col, expr in assignments.items():
        # the Delta UPDATE contract: an assignment to an EXISTING column is
        # cast back to that column's type (arithmetic widening — e.g.
        # decimal(23,1)+100 -> decimal(24,1) — must not leak into a schema
        # change); a NEW column keeps the expression's type (additive
        # evolution, which schema-on-write already allows)
        new_images = new_images.withColumn(
            col, expr.cast(existing[col]) if col in existing else expr
        )
    staged = _stage(new_images, path, m0, op="update_where_dv", trusted_row_ids=True)

    def rule(prev_v: int, prev: dict) -> dict:
        # OUR position deltas merge onto the head's vectors: disjoint rows
        # both land; overlapping rows or a rewritten target file raise
        return _rebase_dv_entries(
            path, prev_v + 1, m0.get("dv", {}), prev.get("dv", {}), updates,
            set(prev.get("files", [])), "update_where_dv",
        )

    v = _publish_staged(staged, mode="update_dv", rule=rule)
    return {
        "version": v,
        "rows_updated": n_updated,
        "files_with_dv": len(read_manifest(path, v).get("dv", {})),
        "files_rewritten": 0,
    }


def materialize_dvs(spark: SparkSession, path: str) -> dict:
    """Purge deletion vectors physically: rewrite ONLY the files that carry
    a vector (live rows survive, positions die), committed copy-on-write —
    the ``REORG TABLE ... APPLY (PURGE)`` step that turns merge-on-read
    debt back into clean immutable files.  Untouched files carry over by
    reference.  Returns {"version", "files_rewritten", "rows_purged"}."""
    v0 = latest_version(path)
    m0 = read_manifest(path, v0) if v0 else {}
    dv = m0.get("dv", {})
    if not dv:
        return {"version": v0, "files_rewritten": 0, "rows_purged": 0}
    dvd = sorted(dv)
    # DV applied at scan; REORG PURGE preserves row ids (the Delta contract)
    live = (
        _attach_row_ids(spark, dvd, m0)
        if m0.get("row_tracking")
        else _scan_files(spark, dvd, m0)
    )
    dvd_set = set(dvd)
    v = commit(live, path, replace=lambda f: f in dvd_set,
               _mode_label="purge_dv", _trusted_row_ids=True)
    return {
        "version": v,
        "files_rewritten": len(dvd),
        "rows_purged": sum(e["n"] for e in dv.values()),
    }


def change_feed(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    *,
    key: str,
) -> DataFrame:
    """Row-level change feed between two snapshot versions (the Delta CDF
    shape): full-outer join on ``key`` comparing every other column —
    'insert' rows carry the new image, 'delete' rows the old image, and an
    updated key emits BOTH 'update_preimage' and 'update_postimage'.
    One shuffle join of two manifest-pinned reads; downstream consumers
    (incremental aggregates, replication, audit) never rescan the table.

    The change rows come from ONE pass over the join via a typed-event
    explode — the previous four-branch filter+union shape re-executed the
    full-outer join once PER BRANCH (Spark does not share the common
    subtree across union arms; profiled as 4 concurrent ~1 s stage-jobs
    per transition at sf0.1, r13), which at 100 TB would be four shuffles
    of both snapshots instead of one."""
    from pyspark.sql import functions as F

    a = read_version(spark, path, v_from)
    b = read_version(spark, path, v_to)
    cols = [c for c in a.columns if c != key]
    assert cols == [c for c in b.columns if c != key], "schema drift across versions"
    pre = a.select(key, F.struct(*cols).alias("__pre"))
    post = b.select(key, F.struct(*cols).alias("__post"))
    j = pre.join(post, key, "full_outer")

    def ev(t, img):
        return F.struct(F.lit(t).alias("t"), F.col(img).alias("img"))

    # unchanged keys fall through every branch to NULL, which explode drops;
    # the struct inequality is the same expression (and NULL-field
    # semantics) the old `changed` filter used
    events = (
        F.when(F.col("__pre").isNull(), F.array(ev("insert", "__post")))
        .when(F.col("__post").isNull(), F.array(ev("delete", "__pre")))
        .when(
            F.col("__pre") != F.col("__post"),
            F.array(ev("update_preimage", "__pre"), ev("update_postimage", "__post")),
        )
    )
    return j.select(key, F.explode(events).alias("__e")).select(
        key,
        F.col("__e.t").alias("change_type"),
        *[F.col(f"__e.img.{c}").alias(c) for c in cols],
    )


def _transition_feed(
    spark: SparkSession, path: str, v: int, *, key: str, cols: "list[str]"
) -> "tuple[DataFrame, str]":
    """Change rows for ONE transition v → v+1, read at O(Δ) cost wherever
    the manifest pair allows (the log_replay_deltas dispatch discipline
    extended to deletion-vector commits):

    - pure append → the added files scanned once, every row 'insert';
    - ``delete_dv`` / ``update_dv`` → the manifest already NAMES the exact
      newly-dead positions (per-file vector growth), so the pre-images are
      read from ONLY the newly-vectored files, semi-joined against the
      position delta; ``update_dv``'s appended files are the post-images.
      No other file is opened — at 100 TB a one-row right-to-be-forgotten
      delete feeds one file's scan, not a full-outer join of two snapshots;
    - anything that removed a file (CoW rewrite, purge, overwrite) → the
      join-based :func:`change_feed` fallback for that transition.

    Returns (frame with columns [key, change_type, *cols], mode) where mode
    is 'append' | 'dv' | 'rewrite'.  Reference anchor for the semantics:
    the read-check-append discipline of update/app.py:877-958."""
    from pyspark.sql import functions as F

    m0, m1 = read_manifest(path, v), read_manifest(path, v + 1)
    old, new = set(m0["files"]), m1["files"]
    dv0, dv1 = m0.get("dv", {}), m1.get("dv", {})
    mode = m1.get("mode")

    def joined():
        return (
            change_feed(spark, path, v, v + 1, key=key).select(
                key, "change_type", *cols
            ),
            "rewrite",
        )

    if old - set(new):
        return joined()
    # vectors on carried files that GREW this transition (writers merge
    # monotonically; a shrink or a vanished vector without a rewrite is
    # outside the fast path's invariants)
    delta: dict = {}
    for f, e in dv1.items():
        if f not in old:
            continue  # vectored-at-birth file: its dead rows never appeared
        n0 = int(dv0.get(f, {}).get("n", 0))
        if int(e.get("n", 0)) < n0:
            return joined()
        if int(e.get("n", 0)) > n0:
            delta[f] = e
    if any(f in old and f not in dv1 for f in dv0):
        return joined()
    added = [f for f in new if f not in old]
    parts = []
    if delta:
        if mode == "delete_dv":
            dead_type = "delete"
        elif mode == "update_dv":
            dead_type = "update_preimage"
        else:
            return joined()
        pos = _dv_pos_frame(spark, delta)
        prev = {f: dv0[f] for f in delta if f in dv0}
        if prev:
            pos = pos.join(
                _dv_pos_frame(spark, prev), ["__file", "__pos"], "left_anti"
            )
        if sum(int(e.get("n", 0)) for e in delta.values()) <= DV_BROADCAST_MAX_POSITIONS:
            pos = F.broadcast(pos)
        # Pre-images resolve through the SAME physical->logical pipeline as
        # _scan_files: project out dropped physical slots, then apply the
        # column map — a raw read would fail (or, after a swap-rename,
        # silently mis-bind) on any column-mapped table.
        pre = _apply_col_map(
            _lineage_cols(
                _drop_dead_cols(_read_parquet_files(spark, sorted(delta)), m1)
            ),
            m1.get("column_map") or {},
        ).join(pos, ["__file", "__pos"], "left_semi")
        parts.append(
            pre.select(key, F.lit(dead_type).alias("change_type"), *cols)
        )
    if added:
        add_type = "update_postimage" if mode == "update_dv" else "insert"
        parts.append(
            _scan_files(spark, added, m1).select(
                key, F.lit(add_type).alias("change_type"), *cols
            )
        )
    if not parts:
        # metadata-only transition (e.g. a column rename): zero change rows,
        # with the PRE-transition schema so the caller's cols still resolve
        empty = read_version(spark, path, v).limit(0)
        parts.append(
            empty.select(key, F.lit("insert").alias("change_type"), *cols)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, ("dv" if delta else "append")


def change_feed_deltas(
    spark: SparkSession, path: str, v_from: int, v_to: int, *, key: str,
    modes_out: "list | None" = None,
) -> DataFrame:
    """O(Δ) change feed across a version range: the union of per-transition
    :func:`_transition_feed` frames.  Unlike :func:`change_feed` (one
    full-outer join of the two ENDPOINT snapshots), cost scales with what
    each commit actually touched — appends and DV commits never open an
    untouched file — and intermediate churn (a row inserted then deleted
    within the range) is reported per transition, the Delta CDF contract.
    ``modes_out`` (if a list) receives 'append'/'dv'/'rewrite' per
    transition, the dispatch decision itself.

    Plan depth is BOUNDED: the per-transition union folds through
    ``localCheckpoint`` every ``_FEED_FOLD_EVERY`` transitions, so a
    long-horizon feed (a consumer catching up over hundreds of commits)
    materializes fixed-size segments instead of handing the analyzer an
    O(versions)-leg union tree."""
    cols = [c for c in read_version(spark, path, v_from).columns if c != key]
    out = None
    legs = 0
    for v in range(v_from, v_to):
        d, mode = _transition_feed(spark, path, v, key=key, cols=cols)
        if modes_out is not None:
            modes_out.append(mode)
        out = d if out is None else out.unionByName(d)
        legs += 1
        if legs >= _FEED_FOLD_EVERY:
            out = out.localCheckpoint(eager=True)
            legs = 0
    return out


def _raw_ids_with_lineage(
    spark: SparkSession, files: "list[str]", manifest: dict
) -> DataFrame:
    """Raw (NO deletion vectors applied) scan of ``files`` with ``__file``,
    ``__pos`` and the stable ``_row_id`` attached — the pre-image reader
    for the id-carrying change feed, which must see exactly the rows the
    current vectors killed.  Column map and dropped slots apply as on any
    scan."""
    from pyspark.sql import functions as F

    mat = set(manifest.get("row_id_materialized", []))
    base = manifest.get("base_row_ids", {})
    cmap = manifest.get("column_map") or {}

    def raw(file_list):
        # mergeSchema: the newly-vectored files may straddle an ADDITIVE
        # schema evolution that happened before the feed window (the feed
        # only enforces stability WITHIN [v_from, v_to]) — a single-footer
        # sample would make the later select(*cols) fail or null-fill
        # depending on which file Spark sampled (ADVICE r11)
        return _apply_col_map(
            _lineage_cols(
                _drop_dead_cols(
                    _read_parquet_files(
                        spark, sorted(file_list), merge_schema=True
                    ),
                    manifest,
                )
            ),
            cmap,
        )

    frames = []
    d_files = [f for f in files if f not in mat]
    if d_files:
        missing = [f for f in d_files if f not in base]
        if missing:
            raise ValueError(
                f"{len(missing)} files lack a base row id — manifest corrupt"
            )
        from us_equity_datalake_spark.sources.registry import local_frame

        bdf = local_frame(
            spark, [(f, int(base[f])) for f in d_files], "__file string, __base long"
        )
        frames.append(
            raw(d_files)
            .join(F.broadcast(bdf), "__file")
            .withColumn(_ROW_ID, (F.col("__base") + F.col("__pos")).cast("long"))
            .drop("__base")
        )
    m_files = [f for f in files if f in mat]
    if m_files:
        frames.append(raw(m_files))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def change_feed_row_ids(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """CHANGE FEED WITH ROW LINEAGE: the O(Δ) per-transition change feed
    carrying the stable ``_row_id`` on every change row — the contract
    Delta's roadmap calls CDF + row tracking.  A consumer pairs an
    update's pre- and post-image BY IDENTITY (update_where_dv materializes
    the pre-image ids into its post-image files), follows a row across
    commits without knowing the business key, and sees an id-preserving
    rewrite (OPTIMIZE / compaction / REORG PURGE) as what it logically is:
    ZERO change rows — the id set is unchanged, only the layout moved.

    Dispatch per transition (the :func:`_transition_feed` discipline):
    pure append → added files scanned once ('insert'); ``delete_dv`` /
    ``update_dv`` → pre-images read raw from ONLY the newly-vectored files
    and semi-joined against the position delta; an id-preserving rewrite
    (every replacement file carries materialized ids and the watermark did
    not move) → no rows; an id-preserving MERGE (r12: mode ``merge``,
    every replacement file materialized) → a by-identity diff of the
    touched files only (unchanged survivors vanish, replaced rows pair as
    update pre/post on their inherited id, fresh keys are inserts);
    anything else (CoW rewrites that re-mint ids, rollbacks, vector
    shrink) raises — by-id lineage cannot be reconstructed once identity
    was re-minted.

    Output columns: ``_row_id``, ``change_type``, ``_commit_version``,
    then every logical column.  Requires a stable schema across the range.
    """
    from pyspark.sql import functions as F

    m_to = read_manifest(path, v_to)
    if not m_to.get("row_tracking"):
        raise ValueError(f"change_feed_row_ids: {path} has no row tracking")
    cols = [c for c in m_to.get("schema", {})]
    out = None
    legs = 0
    for v in range(v_from, v_to):
        m0, m1 = read_manifest(path, v), read_manifest(path, v + 1)
        if m0.get("schema") != m1.get("schema") or dict(
            m0.get("column_map", {})
        ) != dict(m1.get("column_map", {})):
            raise ValueError(
                f"change_feed_row_ids: schema evolved at v{v + 1} — "
                "re-baseline the consumer across the evolution"
            )
        old, new = set(m0["files"]), m1["files"]
        dv0, dv1 = m0.get("dv", {}), m1.get("dv", {})
        mode = m1.get("mode")
        removed = old - set(new)
        replacement = [f for f in new if f not in old]
        if removed:
            preserved = (
                mode in ("overwrite", "replace", "purge_dv")
                and m1.get("row_id_watermark") == m0.get("row_id_watermark")
                and replacement
                and all(
                    f in set(m1.get("row_id_materialized", []))
                    for f in replacement
                )
            )
            if preserved:
                continue  # layout changed, identity did not: zero change rows
            mat1 = set(m1.get("row_id_materialized", []))
            if not (mode == "merge" and replacement
                    and all(f in mat1 for f in replacement)):
                raise ValueError(
                    f"change_feed_row_ids: v{v + 1} ({mode}) re-minted or "
                    "removed row identities; by-id lineage stops here — "
                    "use change_feed"
                )
            # ID-PRESERVING MERGE (r12): the touched files' pre- and
            # post-images diff BY IDENTITY — survivors (same id, same
            # content) vanish from the feed, a matched key's replaced row
            # pairs as update pre/post on ITS id, collapsed multi-row keys
            # surface their lost ids as deletes, and fresh-minted ids are
            # inserts.  O(touched files), never O(table).
            ver = F.lit(v + 1).cast("long").alias("_commit_version")
            o_side = _attach_row_ids(
                spark, sorted(removed), m0, merge_schema=True
            ).select(_ROW_ID, F.struct(*cols).alias("__pre"))
            n_side = _attach_row_ids(
                spark, replacement, m1, merge_schema=True
            ).select(_ROW_ID, F.struct(*cols).alias("__post"))
            j = o_side.join(n_side, _ROW_ID, "full_outer")

            # one pass over the by-identity join via the typed-event
            # explode (same shape as change_feed): the old four-branch
            # filter+union re-executed the full-outer join per branch
            def _ev(t, img):
                return F.struct(F.lit(t).alias("t"), F.col(img).alias("img"))

            events = (
                F.when(F.col("__pre").isNull(), F.array(_ev("insert", "__post")))
                .when(F.col("__post").isNull(), F.array(_ev("delete", "__pre")))
                .when(
                    ~F.col("__pre").eqNullSafe(F.col("__post")),
                    F.array(
                        _ev("update_preimage", "__pre"),
                        _ev("update_postimage", "__post"),
                    ),
                )
            )
            p = j.select(_ROW_ID, F.explode(events).alias("__e")).select(
                _ROW_ID, F.col("__e.t").alias("change_type"), ver, "__e.img.*"
            )
            out = p if out is None else out.unionByName(p)
            legs += 1
            if legs >= _FEED_FOLD_EVERY:
                out = out.localCheckpoint(eager=True)
                legs = 0
            continue
        delta: dict = {}
        bad = False
        for f, e in dv1.items():
            if f not in old:
                continue  # vectored at birth: those rows never appeared
            n0 = int(dv0.get(f, {}).get("n", 0))
            if int(e.get("n", 0)) < n0:
                bad = True
            elif int(e.get("n", 0)) > n0:
                delta[f] = e
        if bad or any(f in old and f not in dv1 for f in dv0):
            raise ValueError(
                f"change_feed_row_ids: v{v + 1} shrank a deletion vector "
                "without a rewrite — outside the feed's invariants"
            )
        parts = []
        if delta:
            dead_type = {"delete_dv": "delete", "update_dv": "update_preimage"}.get(mode)
            if dead_type is None:
                raise ValueError(
                    f"change_feed_row_ids: v{v + 1} ({mode}) grew vectors "
                    "outside a DV commit"
                )
            pos = _dv_pos_frame(spark, delta)
            prev = {f: dv0[f] for f in delta if f in dv0}
            if prev:
                pos = pos.join(
                    _dv_pos_frame(spark, prev), ["__file", "__pos"], "left_anti"
                )
            if sum(int(e.get("n", 0)) for e in delta.values()) <= DV_BROADCAST_MAX_POSITIONS:
                pos = F.broadcast(pos)
            pre = _raw_ids_with_lineage(spark, sorted(delta), m1).join(
                pos, ["__file", "__pos"], "left_semi"
            )
            parts.append(
                pre.select(
                    _ROW_ID, F.lit(dead_type).alias("change_type"),
                    F.lit(v + 1).cast("long").alias("_commit_version"), *cols,
                )
            )
        added = [f for f in new if f not in old]
        if added:
            add_type = "update_postimage" if mode == "update_dv" else "insert"
            parts.append(
                _attach_row_ids(spark, added, m1).select(
                    _ROW_ID, F.lit(add_type).alias("change_type"),
                    F.lit(v + 1).cast("long").alias("_commit_version"), *cols,
                )
            )
        for p in parts:
            out = p if out is None else out.unionByName(p)
            legs += 1
            if legs >= _FEED_FOLD_EVERY:
                out = out.localCheckpoint(eager=True)
                legs = 0
    if out is None:
        empty = read_version_row_ids(spark, path, v_to).limit(0)
        out = empty.select(
            _ROW_ID, F.lit("insert").alias("change_type"),
            F.lit(v_to).cast("long").alias("_commit_version"), *cols,
        )
    return out


def optimize(
    spark: SparkSession,
    path: str,
    *,
    target_files: int = 1,
    zorder_by: "list[str] | None" = None,
) -> dict:
    """OPTIMIZE: rewrite the latest version's data into AT MOST
    ``target_files`` files — optionally z-order-clustered (operators.zorder)
    so multi-dimension predicates prune — as a NEW commit.  Without
    ``zorder_by`` the rewrite is a ``coalesce(target_files)``, which only
    merges the scan's partitions: it never raises the file count, so a
    table read as 4 partitions lands as 4 files even at ``target_files=64``.
    Content is identical by construction; the old layout stays
    time-travelable (compaction never breaks a pinned reader), and vacuum()
    reclaims it when the horizon passes.  Returns {"version",
    "files_before", "files_after"}."""
    from us_equity_datalake_spark.operators import zorder as _z

    m_cur = read_manifest(path, latest_version(path))
    # row tracking: the rewrite THREADS the stable ids through (_row_id
    # rides the shuffle and lands as a physical column in the new files) —
    # OPTIMIZE changes layout, never identity
    cur = (
        read_version_row_ids(spark, path)
        if m_cur.get("row_tracking")
        else read_version(spark, path)
    )
    n_before = len(m_cur["files"])
    if zorder_by:
        from pyspark.sql import functions as F

        keyed = cur.withColumn("__z", _z.z_value([F.col(c) for c in zorder_by]))
        out = (
            keyed.repartitionByRange(target_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        out = cur.coalesce(target_files)
    v = commit(out, path, mode="overwrite", _trusted_row_ids=True)
    n_after = len(read_manifest(path, v)["files"])
    return {"version": v, "files_before": n_before, "files_after": n_after}


def compact_files(
    spark: SparkSession,
    path: str,
    *,
    match_file,
    target_files: int = 1,
) -> dict:
    """OPTIMIZE WHERE — partition-scoped compaction: rewrite ONLY the files
    ``match_file(path) -> bool`` selects (evaluated once, against the
    snapshot this transaction read) into ``target_files`` files, committed
    through :func:`commit_rewrite_with_retry`.  Because the conflict check
    is on touched-file sets, compactions of DISJOINT regions can run
    concurrently and both land — the Delta ``OPTIMIZE WHERE`` concurrency
    model — while two compactions of the same files conflict loudly.
    Content is identical by construction; the old layout stays
    time-travelable.  Returns {"version", "files_compacted",
    "files_after"}."""
    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"compact of {path}: table has no commits")
    m0 = read_manifest(path, v0)
    sel = sorted(f for f in m0["files"] if match_file(f))
    if not sel:
        return {"version": v0, "files_compacted": 0,
                "files_after": len(m0["files"])}
    # DV-aware: compaction is a rewrite, so it MATERIALIZES the selected
    # files' deletion vectors (commit drops dv entries for replaced files).
    # Row-tracking-aware: ids thread through as a physical column.
    src = (
        _attach_row_ids(spark, sel, m0)
        if m0.get("row_tracking")
        else _scan_files(spark, sel, m0)
    )
    df = src.coalesce(target_files)
    sel_set = set(sel)
    v = commit_rewrite_with_retry(
        df, path, replace=lambda f: f in sel_set, _trusted_row_ids=True
    )
    return {"version": v, "files_compacted": len(sel),
            "files_after": len(read_manifest(path, v)["files"])}


class ConstraintViolation(ValueError):
    """A commit was rejected because rows violate a table constraint."""


def _write_commit_checked(
    df: DataFrame, commit_dir: str, col_map: dict, constraints: dict, path: str
) -> None:
    """Write ``df`` (physical names) into ``commit_dir`` (claimed empty by
    :func:`_stage`), then validate the
    WRITTEN files against the table constraints — single pass over ``df``
    (Delta enforces during the write itself; a pre-write action would
    compute the frame twice, and a nondeterministic frame could pass
    validation yet land violating rows).  On violation the commit directory
    is deleted before raising, keeping the reject atomic: nothing is
    published, nothing is left on disk."""
    _unapply_col_map(df, col_map).write.mode("append").parquet(commit_dir)
    if not constraints:
        return
    try:
        written = _apply_col_map(
            df.sparkSession.read.parquet(commit_dir), col_map
        )
        _check_table_constraints(written, constraints, path)
    except ConstraintViolation:
        shutil.rmtree(commit_dir, ignore_errors=True)
        raise


def _check_table_constraints(df: DataFrame, constraints: dict, path: str) -> None:
    """Reject ``df`` if any row violates any registered table constraint
    (name -> SQL predicate).  One aggregate pass; NULL predicate counts as a
    violation (the CHECK contract)."""
    from pyspark.sql import functions as F

    if not constraints:
        return
    checks = df.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(~F.coalesce(F.expr(sql), F.lit(False)), 1).otherwise(0)
                ),
                F.lit(0),
            ).alias(name)
            for name, sql in sorted(constraints.items())
        ]
    ).collect()[0]
    failed = {name: int(checks[name]) for name in constraints if checks[name]}
    if failed:
        raise ConstraintViolation(
            f"commit to {path} rejected: table-constraint violations {failed} "
            f"(constraints: { {n: constraints[n] for n in failed} })"
        )


def add_table_constraint(
    spark: SparkSession, path: str, name: str, predicate_sql: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT (the Delta CHECK-constraint table
    property): validate that EVERY existing live row satisfies
    ``predicate_sql`` (the full scan Delta performs), then publish a
    metadata-only commit carrying the constraint in the manifest.  From
    that version on, EVERY write path — append, merge, CoW rewrite,
    merge-on-read UPDATE post-images, streaming foreachBatch merges —
    validates against it inside :func:`commit` and rejects atomically on
    any violating row.  The constraint is a durable table property that
    travels with the log.  Returns the new version."""
    from pyspark.sql import functions as F

    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"add_table_constraint on {path}: table has no commits")
    m0 = read_manifest(path, v0)
    cons = dict(m0.get("constraints", {}))
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists on {path}")
    live = _scan_files(spark, m0["files"], m0)
    n_bad = live.where(
        ~F.coalesce(F.expr(predicate_sql), F.lit(False))
    ).count()
    if n_bad:
        raise ConstraintViolation(
            f"add_table_constraint({name!r}) rejected: {n_bad} existing "
            f"row(s) violate {predicate_sql!r}"
        )
    cons[name] = predicate_sql
    new_v = v0 + 1
    manifest = _carry(m0)
    manifest.update({
        "version": new_v,
        "mode": "add_constraint",
        "constraints": cons,
        "constraint": {"name": name, "sql": predicate_sql},
    })
    _publish(path, new_v, manifest)
    return new_v


def drop_table_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only removal."""
    v0 = latest_version(path)
    if v0 == 0:
        raise ValueError(f"drop_table_constraint on {path}: table has no commits")
    m0 = read_manifest(path, v0)
    cons = dict(m0.get("constraints", {}))
    if name not in cons:
        raise ValueError(f"no constraint {name!r} on {path}")
    cons.pop(name)
    new_v = v0 + 1
    manifest = _carry(m0)
    manifest.pop("constraints", None)
    manifest.update({
        "version": new_v,
        "mode": "drop_constraint",
        "constraint": {"name": name},
    })
    if cons:
        manifest["constraints"] = cons
    _publish(path, new_v, manifest)
    return new_v


def stage_incremental_files(
    path: str, staging_dir: str, state_path: str, *, ignore_deletes: bool = False
) -> list[str]:
    """Advance the lake→stream FEED: hardlink every data file added between
    the last-fed version (tracked in a tiny JSON state file) and the current
    latest into ``staging_dir``, where a Structured-Streaming file source
    picks them up as new input.  This is the Delta streaming-source adapter
    in its honest minimal form: the file source alone cannot follow
    manifests — it would also ingest files a crashed writer left in a commit
    directory that never published — so visibility is gated on the COMMITTED
    manifest delta, and the hardlinks move metadata only (no byte copy; at
    object-store scale this is the file-index handoff, not a copy either).

    Append-only fast path, same contract as :func:`incremental_rows`: raises
    if a fed file was removed by a rewrite (a streaming consumer of a
    rewritten table needs :func:`change_feed` semantics instead).  Returns
    the newly staged file paths; idempotent per version (re-running without
    new commits stages nothing), crash-safe (the state file is advanced
    atomically AFTER the links land; a crash in between re-links, and
    ``os.link`` onto an existing name is skipped).

    Row-level deletes: a deletion-vector commit changes NO file list, so a
    naive append-only feed would silently advance past it — the consumer
    keeps rows the table deleted.  The Delta streaming-source contract
    applies instead: a DV change across the fed range RAISES unless the
    caller passes ``ignore_deletes=True`` (Delta's ``ignoreDeletes``),
    explicitly accepting that already-fed rows are not retracted."""
    last_fed = 0
    if os.path.exists(state_path):
        with open(state_path) as f:
            last_fed = json.load(f)["version"]
    latest = latest_version(path)
    if latest <= last_fed:
        return []
    m_old = read_manifest(path, last_fed) if last_fed else {}
    m_new = read_manifest(path, latest)
    old = set(m_old.get("files", []))
    new = m_new["files"]
    removed = old - set(new)
    if removed:
        raise ValueError(
            f"versions {last_fed}..{latest} of {path} rewrote {len(removed)} "
            "file(s); a streaming feed over rewrites needs change_feed "
            "semantics, not the append-only fast path"
        )
    if not ignore_deletes:
        dv_new = m_new.get("dv", {})
        # (a) a DV appeared/changed on an already-fed file — the consumer
        #     holds rows the table has since deleted;
        # (b) a file being staged THIS call carries a DV (added then
        #     DV-deleted within the fed range, or the initial feed of a
        #     table that already has vectors) — the raw parquet on disk
        #     still contains the dead rows, so hardlinking it feeds them.
        changed_fed = last_fed and m_old.get("dv", {}) != {
            f: e for f, e in dv_new.items() if f in old
        }
        staged_with_dv = [f for f in new if f not in old and f in dv_new]
        if changed_fed or staged_with_dv:
            raise ValueError(
                f"versions {last_fed}..{latest} of {path} carry deletion "
                f"vectors across the feed ({len(staged_with_dv)} staged "
                "file(s) vectored, "
                f"fed-range change={bool(changed_fed)}); pass "
                "ignore_deletes=True to stream past row-level deletes "
                "without retraction (the Delta ignoreDeletes contract), "
                "or consume change_feed instead"
            )
    # Row-tracking guard (mirrors the DV guard): a file written by an
    # id-preserving rewrite carries a PHYSICAL `_row_id` column the
    # consumer's schema does not have; a hardlink cannot project it out.
    mat_new = set(m_new.get("row_id_materialized", []))
    staged_mat = [f for f in new if f not in old and f in mat_new]
    if staged_mat:
        raise ValueError(
            f"versions {last_fed}..{latest} of {path} stage "
            f"{len(staged_mat)} file(s) carrying a materialized _row_id "
            "column; the raw-file feed cannot project it out — consume "
            "change_feed (or read_version_row_ids) instead"
        )
    # Schema evolution guard (mirrors the DV guard): a RENAME/DROP commit is
    # metadata-only, so the on-disk files this call would hardlink carry
    # PHYSICAL column names the consumer's logical schema no longer matches
    # — a hardlink cannot apply the mapping, so refuse loudly instead of
    # feeding stale/misnamed columns.  Fires on (a) a column_map or
    # dropped_physical change across the fed range and (b) an initial feed
    # of a table that already carries a mapping (raw physical names would
    # never have matched the logical schema).
    cm_old = dict(m_old.get("column_map", {})) if last_fed else {}
    dp_old = set(m_old.get("dropped_physical", [])) if last_fed else set()
    if dict(m_new.get("column_map", {})) != cm_old or set(
        m_new.get("dropped_physical", [])
    ) != dp_old:
        raise ValueError(
            f"versions {last_fed}..{latest} of {path} changed the column "
            "mapping (a RENAME/DROP COLUMN landed); staged raw files carry "
            "physical column names the feed's logical schema does not match "
            "— restart the stream from a post-rename checkpoint or consume "
            "change_feed instead"
        )
    os.makedirs(staging_dir, exist_ok=True)
    staged: list[str] = []
    for f in new:
        if f in old:
            continue
        dst = os.path.join(staging_dir, os.path.basename(f))
        try:
            os.link(f, dst)
        except FileExistsError:
            pass  # re-link after a crash between link and state advance
        staged.append(dst)
    tmp = f"{state_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"version": latest}, f)
    os.replace(tmp, state_path)
    return staged


def stage_change_feed_files(
    spark: SparkSession,
    path: str,
    staging_dir: str,
    state_path: str,
    *,
    key: str,
) -> dict:
    """Advance the lake→stream CHANGE FEED (the Delta ``readChangeFeed``
    streaming-source shape): for every version committed since the last fed
    one, write that transition's change ROWS — ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage``, stamped with
    ``_change_type`` and ``_commit_version`` (the Delta CDF metadata
    columns) — as parquet under ``staging_dir``, where a
    Structured-Streaming file source ingests them directly.

    This is what :func:`stage_incremental_files` cannot express: a
    deletion-vector DELETE feeds the stream a RETRACTION row instead of
    raising (or being silently skipped under ``ignoreDeletes``), and a
    merge-on-read UPDATE feeds a pre+post pair — so a downstream consumer
    maintains signed state from the rows alone, never re-opening the source
    table (the pointer-file side channel the medallion loop previously
    needed).  Per-transition cost is O(Δ) via :func:`_transition_feed`:
    appends scan only added files, DV commits semi-join only newly-vectored
    files, and only a CoW rewrite pays a join.  The initial advance feeds
    version 1's rows as inserts (Delta's ``startingVersion=0`` contract).

    Staging is EXACTLY-ONCE: each advance writes to a hidden scratch dir
    and atomically renames it to a range-named directory
    (``v{from}_v{to}``) under ``staging_dir`` — if the range directory
    already exists, a crash-replayed advance stages ZERO new rows and only
    re-advances the state file.  Combined with the engine's per-file
    checkpoint tracking, every change row reaches the stream exactly once,
    so an ADDITIVE consumer (signed fold) is correct under ANY micro-batch
    granularity — including ``maxFilesPerTrigger=1`` splitting one
    version's rows across batches.  (A version-watermark consumer remains
    valid defense-in-depth but must only be trusted when whole advances
    arrive per batch.)  Consumers read the nested layout with
    ``option("recursiveFileLookup", "true")``.  The state file is owned by
    this function; editing it to a version that does not match a staged
    range boundary re-stages overlapping rows.

    All transitions of one advance are stamped before the ONE write; the
    union folds through ``localCheckpoint`` every ``_FEED_FOLD_EVERY`` legs
    (bounded plan depth on long catch-ups).

    Returns {"from", "to", "rows"} (rows staged this advance; 0 on a
    replayed or empty advance).
    """
    from pyspark.sql import functions as F

    last_fed = 0
    if os.path.exists(state_path):
        with open(state_path) as f:
            last_fed = json.load(f)["version"]
    latest = latest_version(path)
    if latest <= last_fed:
        return {"from": last_fed, "to": last_fed, "rows": 0}
    base_v = max(last_fed, 1)
    cols = [c for c in read_version(spark, path, base_v).columns if c != key]

    def stamped(df, change_col, v):
        return df.select(
            key, *cols,
            change_col.alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    parts = []
    v0 = last_fed
    if v0 == 0:
        m1 = read_manifest(path, 1)
        parts.append(
            stamped(_scan_files(spark, m1["files"], m1), F.lit("insert"), 1)
        )
        v0 = 1
    legs = len(parts)
    out = parts[0] if parts else None
    for v in range(v0, latest):
        d, _mode = _transition_feed(spark, path, v, key=key, cols=cols)
        d = stamped(d, F.col("change_type"), v + 1)
        out = d if out is None else out.unionByName(d)
        legs += 1
        if legs >= _FEED_FOLD_EVERY:
            out = out.localCheckpoint(eager=True)
            legs = 0
    os.makedirs(staging_dir, exist_ok=True)
    import shutil

    import pyarrow.parquet as pq

    range_dir = os.path.join(staging_dir, f"v{last_fed:06d}_v{latest:06d}")
    n = 0
    if not os.path.exists(range_dir):
        # ONE job into a HIDDEN scratch dir (dot-prefixed: invisible to the
        # file source), rows counted from the parquet footers (driver
        # metadata read, no second action), zero-row task outputs dropped,
        # then ONE atomic directory rename publishes the whole advance
        scratch = os.path.join(
            staging_dir, f".stage.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        )
        # REBALANCE (guide §6): without it the staged write emits one file
        # per upstream task (profiled: 17 tiny files per advance at sf0.1),
        # which the file-source stream then pays as 17 splits per batch.
        # The AQE-sized exchange coalesces a Δ-sized advance to one file
        # locally while a large advance still splits at the advisory size —
        # scale-adaptive, not a constant.
        out.hint("rebalance").write.mode("error").parquet(scratch)
        for name in sorted(os.listdir(scratch)):
            p = os.path.join(scratch, name)
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                if os.path.isfile(p):
                    os.remove(p)  # _SUCCESS etc — keep the staged dir clean
                continue
            rows = pq.ParquetFile(p).metadata.num_rows
            if rows == 0:
                os.remove(p)
                continue
            n += rows
        if n:
            try:
                os.rename(scratch, range_dir)
            except OSError:
                # a concurrent stager published this range first: its rows
                # are identical by construction (same manifests, same
                # transitions) — drop ours, count nothing
                shutil.rmtree(scratch, ignore_errors=True)
                n = 0
        else:
            shutil.rmtree(scratch, ignore_errors=True)
    tmp = f"{state_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"version": latest}, f)
    os.replace(tmp, state_path)
    return {"from": last_fed, "to": latest, "rows": int(n)}


def log_replay_deltas(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    *,
    key: str,
    modes_out: "list | None" = None,
) -> DataFrame:
    """SIGNED row deltas for maintaining a downstream aggregate across ANY
    commit sequence — the dispatcher a Delta-CDF streaming consumer runs:
    per transition v→v+1, take the append-only fast path when no file was
    removed (the delta is the manifest set-difference, weight +1, NO join,
    no diff compute), read deletion-vector commits at O(Δ) from the
    position deltas the manifest names (:func:`_transition_feed`), and fall
    back to the row-level change feed only when a rewrite happened
    (insert/update_postimage +1, delete/update_preimage −1).  Folding these
    into a per-group (count, exact-decimal sum) state advances it from
    v_from's aggregate to v_to's without ever rescanning the table.
    ``modes_out`` (if a list) receives 'append'/'dv'/'rewrite' per
    transition — the dispatch decision itself, pinned in tests."""
    from pyspark.sql import functions as F

    cols = [c for c in read_version(spark, path, v_from).columns if c != key]
    out = None
    legs = 0
    for v in range(v_from, v_to):
        feed, mode = _transition_feed(spark, path, v, key=key, cols=cols)
        d = feed.select(
            key, *cols,
            F.when(
                F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
            ).otherwise(F.lit(-1)).alias("__w"),
        )
        if modes_out is not None:
            modes_out.append(mode)
        out = d if out is None else out.unionByName(d)
        legs += 1
        if legs >= _FEED_FOLD_EVERY:
            # same bounded-plan-depth discipline as change_feed_deltas: a
            # consumer catching up over hundreds of commits must not hand
            # the analyzer an O(versions)-leg union tree
            out = out.localCheckpoint(eager=True)
            legs = 0
    return out


def commit_quarantined(
    df: DataFrame,
    path: str,
    *,
    constraints: "dict[str, object]",
    quarantine_path: str,
    mode: str = "append",
) -> dict:
    """Expectation-gated commit with QUARANTINE (the Delta Live Tables
    'expect_or_quarantine' pattern — the production alternative to a table
    constraint's all-or-nothing reject): rows passing EVERY
    constraint commit to the table; failing rows commit to a side
    quarantine table with a ``quarantine_reasons`` column naming every
    violated expectation (comma-joined, name-sorted), so a data-quality
    incident never blocks the pipeline OR silently drops rows — the bad
    rows stay queryable, re-processable, and auditable.  One pass over the
    frame, split by one row-local predicate; both commits are ordinary
    snapshot commits (time travel, CDF, vacuum all apply to the
    quarantine table too).  Returns {"version", "quarantine_version",
    "n_good", "n_bad"} (counts metadata-only via :func:`table_count`)."""
    from pyspark.sql import functions as F

    reasons = F.array_compact(
        F.array(*[
            F.when(~F.coalesce(c, F.lit(False)), F.lit(name))
            for name, c in sorted(constraints.items())
        ])
    )
    tagged = df.withColumn("__reasons", reasons)
    good = tagged.where(F.size("__reasons") == 0).drop("__reasons")
    bad = tagged.where(F.size("__reasons") > 0).withColumn(
        "quarantine_reasons", F.concat_ws(",", "__reasons")
    ).drop("__reasons")
    v_good = commit(good, path, mode=mode)
    v_bad = commit(bad, quarantine_path, mode=mode)
    return {
        "version": v_good,
        "quarantine_version": v_bad,
        "n_good": table_count(path, v_good),
        "n_bad": table_count(quarantine_path, v_bad),
    }


def incremental_rows(spark: SparkSession, path: str, v_from: int, v_to: int) -> DataFrame:
    """The rows ADDED between two versions, read by FILE REFERENCES — the
    Delta streaming-source fast path: for append-only history the delta is
    exactly the manifest difference (no join, no diff compute); Spark reads
    only the new files.  Raises if any ``v_from`` file was removed in
    between (a rewrite happened — use ``change_feed`` for row-level diffs
    through rewrites).  A file ADDED in the range and then DV-deleted
    before ``v_to`` is read with its vector applied (``_scan_files``), so
    deleted rows never resurrect in the incremental output; only a DV
    change on carried-over files (a retraction of already-delivered rows)
    falls back to ``change_feed``."""
    m_from, m_to = read_manifest(path, v_from), read_manifest(path, v_to)
    old = set(m_from["files"])
    new = m_to["files"]
    removed = old - set(new)
    if removed:
        raise ValueError(
            f"versions {v_from}..{v_to} of {path} rewrote {len(removed)} "
            "file(s); the append-only fast path does not apply — use "
            "change_feed for row-level diffs"
        )
    if m_from.get("dv", {}) != {
        f: e for f, e in m_to.get("dv", {}).items() if f in old
    }:
        raise ValueError(
            f"versions {v_from}..{v_to} of {path} changed deletion vectors "
            "on carried-over files (row-level deletes); the append-only "
            "fast path does not apply — use change_feed"
        )
    if dict(m_from.get("column_map", {})) != dict(m_to.get("column_map", {})) or set(
        m_from.get("dropped_physical", [])
    ) != set(m_to.get("dropped_physical", [])):
        raise ValueError(
            f"versions {v_from}..{v_to} of {path} changed the column mapping "
            "(RENAME/DROP COLUMN); incremental rows would surface logical "
            "names the v_from consumer never saw — re-baseline the consumer "
            "or use change_feed across the rename"
        )
    added = [f for f in new if f not in old]
    if not added:
        return read_version(spark, path, v_to).limit(0)
    return _scan_files(spark, added, m_to)
