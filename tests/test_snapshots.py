"""Snapshot-log semantics (sources/snapshots.py): immutable commits,
manifest-pinned time travel, copy-on-write partial rewrite, isolation of old
versions from later commits."""

import os

from pyspark.sql import functions as F

from us_equity_datalake_spark.sources import snapshots


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_commits_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = snapshots.commit(spark.range(0, 5), path)
    v2 = snapshots.commit(spark.range(5, 8), path)
    assert (v1, v2) == (1, 2)
    assert snapshots.latest_version(path) == 2
    assert _ids(snapshots.read_version(spark, path, 1)) == list(range(5))
    assert _ids(snapshots.read_version(spark, path, 2)) == list(range(8))
    assert _ids(snapshots.read_version(spark, path)) == list(range(8))  # latest


def test_overwrite_isolates_prior_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)
    snapshots.commit(spark.range(100, 103), path, mode="overwrite")
    # old snapshot still reads its own immutable files
    assert _ids(snapshots.read_version(spark, path, 1)) == list(range(5))
    assert _ids(snapshots.read_version(spark, path, 2)) == [100, 101, 102]


def test_copy_on_write_replace_drops_only_matched_files(spark, tmp_path):
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)         # commit_v000001
    snapshots.commit(spark.range(10, 15), path)       # commit_v000002
    # rewrite commit 1's slice applying a delete (keep even ids only)
    snapshots.commit(
        spark.range(0, 5).where(F.col("id") % 2 == 0),
        path,
        replace=lambda f: "commit_v000001" in f,
    )
    assert _ids(snapshots.read_version(spark, path, 3)) == [0, 2, 4, 10, 11, 12, 13, 14]
    # the rewrite never touched the bytes older manifests reference
    assert _ids(snapshots.read_version(spark, path, 1)) == list(range(5))
    assert _ids(snapshots.read_version(spark, path, 2)) == list(range(5)) + list(range(10, 15))


def test_manifest_lists_files_not_directories(spark, tmp_path):
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 3), path)
    m = snapshots.read_manifest(path, 1)
    assert m["version"] == 1 and m["mode"] == "append"
    assert all(f.endswith(".parquet") for f in m["files"])
    assert len(m["files"]) >= 1


def test_rollback_is_a_new_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)
    snapshots.commit(spark.range(100, 110), path, mode="overwrite")  # the bad commit
    v3 = snapshots.rollback(path, 1)
    assert v3 == 3
    assert _ids(snapshots.read_version(spark, path)) == list(range(5))
    # forensics: the bad version stays readable after the rollback
    assert _ids(snapshots.read_version(spark, path, 2)) == list(range(100, 110))
    assert snapshots.read_manifest(path, 3)["rolled_back_to"] == 1


def test_vacuum_reclaims_only_unreferenced_files(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)                       # v1
    snapshots.commit(spark.range(100, 103), path, mode="overwrite")  # v2 orphans v1's files
    snapshots.commit(spark.range(200, 202), path)                   # v3 = v2 files + new
    removed = snapshots.vacuum(path, keep_last=2)
    # only commit 1's files die: v2/v3 still reference commits 2 and 3
    assert removed and all("commit_v000001" in f for f in removed)
    assert _ids(snapshots.read_version(spark, path, 3)) == [100, 101, 102, 200, 201]
    assert _ids(snapshots.read_version(spark, path, 2)) == [100, 101, 102]
    with _pytest.raises(FileNotFoundError):
        snapshots.read_manifest(path, 1)  # expired beyond the horizon


def test_schema_evolution_merged_read(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 3).select("id"), path)
    snapshots.commit(
        spark.range(3, 5).select("id", F.lit("x").alias("tag")), path
    )
    got = snapshots.read_version_merged(spark, path).orderBy("id").collect()
    assert [r["id"] for r in got] == [0, 1, 2, 3, 4]
    assert [r["tag"] for r in got] == [None, None, None, "x", "x"]


def test_merge_upsert_rewrites_only_touched_files(spark, tmp_path):
    """MERGE INTO with file pruning: on a key-clustered layout, a delta
    localized to one key range rewrites exactly the files containing
    matched keys — everything else carries into the new manifest by
    reference — and old versions stay isolated from the upsert."""
    path = str(tmp_path / "t")
    base = spark.range(0, 800).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    )
    snapshots.commit(base.repartitionByRange(8, "id"), path)

    delta = spark.range(0, 50).select(F.col("id"), F.lit(-1.0).alias("v"))
    delta = delta.unionByName(
        spark.range(1000, 1003).select(F.col("id"), F.lit(9.0).alias("v"))
    )
    stats = snapshots.merge_upsert(spark, path, delta, key="id")
    assert stats["files_total"] == 8
    # keys 0..49 live in the lowest range file(s) only
    assert 1 <= stats["files_rewritten"] <= 2

    got = {r["id"]: r["v"] for r in snapshots.read_version(spark, path).collect()}
    assert len(got) == 803
    assert all(got[i] == -1.0 for i in range(50))          # updated
    assert all(got[i] == i * 2.0 for i in range(50, 800))  # untouched
    assert all(got[i] == 9.0 for i in (1000, 1001, 1002))  # inserted
    # snapshot isolation: v1 still shows the pre-merge state
    v1 = {r["id"]: r["v"] for r in snapshots.read_version(spark, path, 1).collect()}
    assert len(v1) == 800 and v1[0] == 0.0


def test_delete_where_prunes_files_and_change_feed_shapes(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 800).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    snapshots.commit(base.repartitionByRange(8, "id"), path)
    stats = snapshots.delete_where(spark, path, F.col("id") < 30)
    assert stats["files_total"] == 8 and stats["files_rewritten"] == 1
    assert snapshots.read_version(spark, path).count() == 770

    feed = snapshots.change_feed(spark, path, 1, 2, key="id").collect()
    assert {r["change_type"] for r in feed} == {"delete"}
    assert sorted(r["id"] for r in feed) == list(range(30))
    assert all(r["v"] == r["id"] * 2.0 for r in feed)  # deletes carry preimage


def test_optimize_compacts_without_breaking_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    # many small appends -> small-file problem
    for lo in range(0, 100, 10):
        snapshots.commit(spark.range(lo, lo + 10).select(
            F.col("id"), (F.col("id") % 7).alias("g")
        ), path)
    v_pre = snapshots.latest_version(path)
    n_pre = len(snapshots.read_manifest(path, v_pre)["files"])
    stats = snapshots.optimize(spark, path, target_files=2, zorder_by=["id", "g"])
    assert stats["files_before"] == n_pre and stats["files_after"] <= 2
    # content identical post-optimize, old layout still readable (pinned
    # readers survive compaction; vacuum reclaims it later)
    assert _ids(snapshots.read_version(spark, path)) == list(range(100))
    assert _ids(snapshots.read_version(spark, path, v_pre)) == list(range(100))
    removed = snapshots.vacuum(path, keep_last=1)
    assert removed  # the pre-optimize files are reclaimable afterwards
    assert _ids(snapshots.read_version(spark, path)) == list(range(100))


def test_commit_checked_rejects_atomically(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "t")
    good = spark.range(0, 5).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    cons = {"v_nonneg": F.col("v") >= 0, "id_notnull": F.col("id").isNotNull()}
    assert snapshots.commit_checked(good, path, constraints=cons) == 1

    bad = spark.range(5, 8).select(F.col("id"), F.lit(-1.0).alias("v"))
    with _pytest.raises(snapshots.ConstraintViolation, match="v_nonneg"):
        snapshots.commit_checked(bad, path, constraints=cons)
    # atomic rejection: no manifest advanced, no stray files referenced
    assert snapshots.latest_version(path) == 1
    assert _ids(snapshots.read_version(spark, path)) == list(range(5))


def test_incremental_rows_fast_path_and_rewrite_guard(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)
    snapshots.commit(spark.range(5, 9), path)
    snapshots.commit(spark.range(9, 12), path)
    # append-only: the delta is the manifest difference, read by reference
    assert _ids(snapshots.incremental_rows(spark, path, 1, 3)) == list(range(5, 12))
    assert snapshots.incremental_rows(spark, path, 3, 3).count() == 0
    # a rewrite breaks the fast path loudly, pointing at change_feed
    snapshots.delete_where(spark, path, F.col("id") < 2)
    with _pytest.raises(ValueError, match="change_feed"):
        snapshots.incremental_rows(spark, path, 1, 4)


def test_concurrent_publish_detected(spark, tmp_path):
    """Two writers racing to the same version number: the manifest is
    created O_EXCL, so the loser gets ConcurrentWriteError and the winner's
    manifest is untouched."""
    import json as _json
    import os as _os

    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)
    # both writers read latest=1 and race to publish v2; the winner lands
    winner = {"version": 2, "mode": "append", "files":
              snapshots.read_manifest(path, 1)["files"]}
    with open(_os.path.join(path, "_snapshots", "v000002.json"), "w") as f:
        _json.dump(winner, f)
    loser = {"version": 2, "mode": "append", "files": []}
    with _pytest.raises(snapshots.ConcurrentWriteError, match="another writer"):
        snapshots._publish(path, 2, loser)
    # the winner's manifest survives byte-for-byte
    assert snapshots.read_manifest(path, 2) == winner
    # a fresh commit AFTER the race re-reads the log and lands as v3
    assert snapshots.commit(spark.range(5, 8), path) == 3
    assert _ids(snapshots.read_version(spark, path)) == list(range(8))


def test_randomized_op_sequence_matches_model(spark, tmp_path):
    """Model-based sequence test: a seeded random interleaving of appends,
    merge-upserts, and predicate deletes is tracked against a plain dict
    model; EVERY historical version must read back exactly its model state
    (time travel through arbitrary op interleavings, not just the per-op
    fixtures)."""
    import random

    rng = random.Random(20260815)
    path = str(tmp_path / "t")
    model: dict[int, float] = {}
    history: list[dict[int, float]] = []
    next_key = 0

    def df_of(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "id long, v double"
        )

    # v1 must exist before merges/deletes have a target
    fresh = {k: float(k) for k in range(10)}
    model.update(fresh)
    next_key = 10
    snapshots.commit(df_of(fresh.items()), path)
    history.append(dict(model))

    for _ in range(12):
        op = rng.choice(("append", "merge", "delete"))
        if op == "append":
            fresh = {k: float(k * 3) for k in range(next_key, next_key + rng.randint(1, 6))}
            next_key += len(fresh)
            model.update(fresh)
            snapshots.commit(df_of(fresh.items()), path)
        elif op == "merge":
            upd = {k: model[k] + 1000.0
                   for k in rng.sample(sorted(model), min(4, len(model)))}
            ins = {k: -1.0 for k in range(next_key, next_key + rng.randint(0, 3))}
            next_key += len(ins)
            delta = {**upd, **ins}
            model.update(delta)
            snapshots.merge_upsert(spark, path, df_of(delta.items()), key="id")
        else:
            cut = rng.choice(sorted(model)) if model else 0
            doomed = [k for k in model if k <= cut and model[k] >= 0]
            for k in doomed:
                del model[k]
            snapshots.delete_where(
                spark, path, (F.col("id") <= cut) & (F.col("v") >= 0)
            )
        history.append(dict(model))

    assert snapshots.latest_version(path) == len(history)
    for v, want in enumerate(history, start=1):
        got = {r["id"]: r["v"] for r in snapshots.read_version(spark, path, v).collect()}
        assert got == want, f"version {v} diverged from the model"


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is not TRUE survive —
    including NULL.  A NULL-valued row co-located in a rewritten file with
    matched rows must survive the rewrite (the survivor filter is
    NOT coalesce(pred, FALSE); a bare ~pred is NULL for NULL inputs and
    would silently drop the row), and a file whose only predicate hits are
    NULL is never rewritten at all (NULL is no-match for pruning too)."""
    path = str(tmp_path / "t")
    f1 = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 5.0), (3, None), (4, 2.0)], "id long, v double"
    ).coalesce(1)
    f2 = spark.createDataFrame([(5, None), (6, None)], "id long, v double").coalesce(1)
    snapshots.commit(f1, path)
    snapshots.commit(f2, path)
    stats = snapshots.delete_where(spark, path, F.col("v") < 3)
    # file 2 (all-NULL hits) carries over by reference; file 1 is rewritten
    assert stats["files_total"] == 2 and stats["files_rewritten"] == 1
    got = {r["id"] for r in snapshots.read_version(spark, path).collect()}
    assert got == {1, 2, 3, 5, 6}  # v<3 deleted; NULLs and v>=3 kept


def test_merge_and_delete_on_path_with_space(spark, tmp_path):
    """input_file_name() returns URL-encoded URIs (a space arrives as %20);
    touched-file mapping must DECODE before comparing to manifest paths, or
    the replace predicate misses every file and the old rows stay referenced
    next to their rewrite — silent duplication."""
    path = str(tmp_path / "dir with space" / "t")
    base = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    snapshots.commit(base.repartitionByRange(4, "id"), path)

    delta = spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v"))
    stats = snapshots.merge_upsert(spark, path, delta, key="id")
    assert stats["files_rewritten"] >= 1
    got = snapshots.read_version(spark, path)
    assert got.count() == 100  # no duplication
    vals = {r["id"]: r["v"] for r in got.collect()}
    assert all(vals[i] == -1.0 for i in range(10))

    snapshots.delete_where(spark, path, F.col("id") >= 90)
    assert snapshots.read_version(spark, path).count() == 90


def test_commit_with_retry_rebases_on_stale_log(spark, tmp_path, monkeypatch):
    """Deterministic append/append race: an interloper publishes v2 while
    our writer still sees v1 — the first publish collides, the retry
    re-reads the log, REBASES onto the interloper's file list, and lands v3
    containing BOTH commits' rows (Delta's automatic append retry)."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)           # v1
    snapshots.commit(spark.range(100, 103), path)       # interloper's v2

    real = snapshots.latest_version
    calls = {"n": 0}

    def stale_once(p):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(p)

    monkeypatch.setattr(snapshots, "latest_version", stale_once)
    v = snapshots.commit_with_retry(spark.range(5, 8), path)
    assert v == 3 and calls["n"] >= 2  # first attempt collided, retry won
    assert _ids(snapshots.read_version(spark, path, 3)) == (
        list(range(8)) + [100, 101, 102]
    )


def test_commit_with_retry_two_appenders_race(spark, tmp_path):
    """Two REAL appenders race on one table: both must commit (no lost
    update, no exception) and the final manifest must reference both
    commits' rows — the benign append/append reconciliation."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 2), path)
    frames = [spark.range(10, 15), spark.range(20, 25)]
    with ThreadPoolExecutor(2) as ex:
        versions = sorted(
            ex.map(lambda d: snapshots.commit_with_retry(d, path), frames)
        )
    assert versions == [2, 3]
    assert _ids(snapshots.read_version(spark, path)) == (
        [0, 1] + list(range(10, 15)) + list(range(20, 25))
    )


def test_publish_atomic_no_temp_residue(spark, tmp_path):
    """_publish stages the JSON in a temp file and os.link's it onto the
    version name: a complete manifest or none, never a truncated one — and
    the temp file is cleaned up on success AND on a lost race."""
    import os as _os

    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 3), path)
    snap_dir = _os.path.join(path, "_snapshots")
    assert [f for f in _os.listdir(snap_dir) if ".tmp." in f] == []
    with _pytest.raises(snapshots.ConcurrentWriteError):
        snapshots._publish(path, 1, {"version": 1, "mode": "append", "files": []})
    assert [f for f in _os.listdir(snap_dir) if ".tmp." in f] == []
    # the winner's manifest is still complete, parseable JSON
    assert snapshots.read_manifest(path, 1)["version"] == 1


def test_stage_incremental_files_feed_contract(spark, tmp_path):
    """The lake->stream feed adapter: stages ONLY committed files (a file a
    crashed writer left in a commit dir without publishing never becomes
    visible), is idempotent per version, hardlinks (no byte copy), advances
    across commits, and refuses rewrites like incremental_rows."""
    import os as _os

    import pytest as _pytest

    path = str(tmp_path / "t")
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "feed.json")

    snapshots.commit(spark.range(0, 5).coalesce(1), path)
    staged = snapshots.stage_incremental_files(path, staging, state)
    assert len(staged) == 1
    # hardlink, not copy: same inode
    src = snapshots.read_manifest(path, 1)["files"][0]
    assert _os.stat(staged[0]).st_ino == _os.stat(src).st_ino
    # idempotent: no new commit -> nothing staged
    assert snapshots.stage_incremental_files(path, staging, state) == []

    # an UNPUBLISHED write (crashed writer: data landed, no manifest) is
    # invisible to the feed
    spark.range(900, 905).coalesce(1).write.parquet(_os.path.join(path, "commit_orphan"))
    assert snapshots.stage_incremental_files(path, staging, state) == []

    # the next real commit stages exactly its own files
    snapshots.commit(spark.range(5, 9).coalesce(1), path)
    staged2 = snapshots.stage_incremental_files(path, staging, state)
    assert len(staged2) == 1 and staged2[0] != staged[0]
    got = sorted(r["id"] for r in spark.read.parquet(staging).collect())
    assert got == list(range(9))  # orphan rows never reached the stream

    # a rewrite breaks the append-only feed loudly
    snapshots.delete_where(spark, path, F.col("id") < 2)
    with _pytest.raises(ValueError, match="change_feed"):
        snapshots.stage_incremental_files(path, staging, state)


def test_manifest_stats_pruned_read(spark, tmp_path):
    """Manifest-level file skipping: per-file min/max recorded at commit
    time prunes the FILE LIST before Spark opens anything.  Pins exact skip
    counts on a range-clustered layout, upper- and lower-bound pruning,
    the conservative keep-all fallback for a column without recorded
    stats, and stats carry-over across appends."""
    path = str(tmp_path / "t")
    base = spark.range(0, 800).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    snapshots.commit(base.repartitionByRange(8, "id"), path, stats_cols=["id"])

    df, info = snapshots.read_version_pruned(spark, path, "id", hi=50)
    assert info["files_total"] == 8 and 1 <= info["files_scanned"] <= 2
    assert sorted(r["id"] for r in df.where(F.col("id") <= 50).collect()) == list(range(51))

    _, info_lo = snapshots.read_version_pruned(spark, path, "id", lo=750)
    assert 1 <= info_lo["files_scanned"] <= 2

    # no recorded stats for 'v' -> conservative: every file kept
    _, info_v = snapshots.read_version_pruned(spark, path, "v", lo=0.0)
    assert info_v["files_scanned"] == 8

    # stats carry over an append; the new file gets its own stats
    snapshots.commit(
        spark.range(800, 900).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1),
        path, stats_cols=["id"],
    )
    df4, info4 = snapshots.read_version_pruned(spark, path, "id", lo=850)
    assert info4["files_total"] == 9 and info4["files_scanned"] == 1
    assert df4.where(F.col("id") >= 850).count() == 50

    # a fully out-of-range predicate prunes EVERYTHING and reads empty
    df5, info5 = snapshots.read_version_pruned(spark, path, "id", lo=10_000)
    assert info5["files_scanned"] == 0 and df5.count() == 0


def test_shallow_clone_zero_copy_independence(spark, tmp_path):
    """Shallow CLONE: the clone's v1 references the source's files (zero
    copy — same paths, same inodes by identity), and the two logs are
    independent afterwards: commits and deletes on either side never leak
    into the other.  Cloning a PINNED older version works too."""
    import pytest as _pytest

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshots.commit(spark.range(0, 5).coalesce(1), src)
    snapshots.commit(spark.range(5, 10).coalesce(1), src)

    assert snapshots.clone(src, dst) == 1
    assert snapshots.read_manifest(dst, 1)["files"] == snapshots.read_manifest(src, 2)["files"]
    assert _ids(snapshots.read_version(spark, dst)) == list(range(10))

    # independence both ways
    snapshots.commit(spark.range(100, 103).coalesce(1), src)      # src-only append
    snapshots.delete_where(spark, dst, F.col("id") < 3)           # dst-only delete
    assert _ids(snapshots.read_version(spark, src)) == list(range(10)) + [100, 101, 102]
    assert _ids(snapshots.read_version(spark, dst)) == list(range(3, 10))

    # clone of a pinned older version
    dst2 = str(tmp_path / "dst2")
    snapshots.clone(src, dst2, version=1)
    assert _ids(snapshots.read_version(spark, dst2)) == list(range(5))

    # refuse to clobber an existing table
    with _pytest.raises(ValueError, match="already has commits"):
        snapshots.clone(src, dst)


def test_binary_sign_topk_recall_and_shape(spark):
    """Binary-quantization ANN: deterministic output shape, Hamming
    pre-rank honesty (every returned neighbor survived the candidate cut),
    and recall vs the exact top-k documented at fixture scale."""
    from us_equity_datalake_spark.operators.similarity import binary_sign_topk, cosine_topk
    from us_equity_datalake_spark.sources.registry import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, "embeddings", sf)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = binary_sign_topk(emb, queries, k=5, n_candidates=64).collect()
    assert len(got) == 8 * 5
    assert all(0 <= r["hamming"] <= 64 for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)

    exact = cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding",
                        query_id="query_id", k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got_set = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(exact_set & got_set) / len(exact_set)
    # honest ANN: 64 sign-bit candidates from a 200-vector corpus keep most
    # of the exact top-5; the exact bound is a fixture observation, the
    # contract is "well above chance and stable" (seedless, deterministic)
    assert recall >= 0.5, recall


def test_manifest_stats_maintained_through_rewrites(spark, tmp_path):
    """Once a table has a skipping index, every commit maintains it: a
    DELETE's rewritten file and an OPTIMIZE's compacted files get fresh
    min/max for the SAME columns without the caller re-passing stats_cols
    (otherwise rewrites silently degrade pruning to the conservative
    keep-everything fallback)."""
    path = str(tmp_path / "t")
    base = spark.range(0, 800).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    snapshots.commit(base.repartitionByRange(8, "id"), path, stats_cols=["id"])

    snapshots.delete_where(spark, path, F.col("id") < 30)  # rewrites file 1
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert all("id" in m["stats"].get(f, {}) for f in m["files"])
    _, info = snapshots.read_version_pruned(spark, path, "id", hi=50)
    assert info["files_scanned"] < info["files_total"]  # index still prunes

    snapshots.optimize(spark, path, target_files=2, zorder_by=["id", "v"])
    m2 = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert len(m2["files"]) <= 2
    assert all("id" in m2["stats"].get(f, {}) for f in m2["files"])
    # pruned read through the compacted layout still exact
    df, _ = snapshots.read_version_pruned(spark, path, "id", lo=700)
    assert sorted(r["id"] for r in df.where(F.col("id") >= 700).collect()) == list(range(700, 800))


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: every publish stamps committed_at; read_version_asof
    resolves the LAST version at-or-before the timestamp, before-first
    raises, and vacuumed manifests are skipped."""
    import time as _time

    import pytest as _pytest

    path = str(tmp_path / "t")
    t0 = _time.time()
    snapshots.commit(spark.range(0, 5).coalesce(1), path)
    t1 = _time.time()
    snapshots.commit(spark.range(5, 8).coalesce(1), path)
    t2 = _time.time()

    assert snapshots.version_asof(path, t1) == 1
    assert snapshots.version_asof(path, t2) == 2
    assert _ids(snapshots.read_version_asof(spark, path, t1)) == list(range(5))
    assert _ids(snapshots.read_version_asof(spark, path, t2)) == list(range(8))
    with _pytest.raises(ValueError, match="no version committed"):
        snapshots.version_asof(path, t0 - 10)

    snapshots.vacuum(path, keep_last=1)
    assert snapshots.version_asof(path, _time.time()) == 2


def test_box_prune_after_zorder_optimize(spark, tmp_path):
    """Manifest-level 2-D box pruning on a z-order OPTIMIZE'd layout — the
    manifest analog of the footer-stats z-order skip proof: the box touches
    only files whose z-curve segment crosses it, decided from the manifest
    alone; random layout cannot prune (every file spans the full range of
    both columns)."""
    path = str(tmp_path / "t")
    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.pmod(F.hash("id"), F.lit(64))).alias("y"),
        F.col("id").alias("payload"),
    )
    snapshots.commit(df.repartition(8), path, stats_cols=["x", "y"])
    # random layout: every file spans both full ranges -> nothing prunable
    _, info_rand = snapshots.read_version_pruned_box(
        spark, path, {"x": (0, 7), "y": (0, 7)}
    )
    assert info_rand["files_scanned"] == info_rand["files_total"]

    snapshots.optimize(spark, path, target_files=16, zorder_by=["x", "y"])
    got, info_z = snapshots.read_version_pruned_box(
        spark, path, {"x": (0, 7), "y": (0, 7)}
    )
    assert info_z["files_scanned"] < info_z["files_total"]
    # pruning is a file-list cut, never a row filter: content stays exact
    want = df.where((F.col("x") <= 7) & (F.col("y") <= 7))
    have = got.where((F.col("x") <= 7) & (F.col("y") <= 7))
    assert have.count() == want.count()
    assert have.exceptAll(want).count() == 0


def test_history_audit_surface(spark, tmp_path):
    """DESCRIBE HISTORY: version/mode/timestamp/file-count per surviving
    manifest, with rollback and clone provenance, and vacuumed versions
    dropped from the listing."""
    src = str(tmp_path / "src")
    snapshots.commit(spark.range(0, 5).coalesce(1), src)
    snapshots.commit(spark.range(5, 8).coalesce(1), src)
    snapshots.rollback(src, 1)
    h = snapshots.history(src)
    assert [r["version"] for r in h] == [1, 2, 3]
    assert [r["mode"] for r in h] == ["append", "append", "rollback"]
    assert h[2]["rolled_back_to"] == 1
    assert all(isinstance(r["committed_at"], float) for r in h)
    assert [r["n_files"] for r in h] == [1, 2, 1]

    dst = str(tmp_path / "dst")
    snapshots.clone(src, dst)
    hd = snapshots.history(dst)
    assert hd[0]["mode"] == "clone" and hd[0]["cloned_from"]["version"] == 3

    snapshots.vacuum(src, keep_last=1)
    assert [r["version"] for r in snapshots.history(src)] == [3]


def test_bloom_point_lookup_pruning(spark, tmp_path):
    """Per-file bloom index: equality lookups on a NON-clustered column —
    min/max stats keep nearly every file (each spans the full value range),
    the bloom keeps ~1.  Zero false negatives by construction; filters are
    maintained through a delete rewrite like the stats index."""
    path = str(tmp_path / "t")
    # k is a permutation-ish scatter of id: every file spans the full k
    # range (stats useless for equality), every k lives in exactly one file
    k = (F.col("id") * F.lit(2654435761)) % F.lit(1 << 32)
    df = spark.range(0, 4000).select("id", k.alias("k"))
    snapshots.commit(df.repartitionByRange(8, "id"), path,
                     stats_cols=["k"], bloom_cols=["k"])

    target = (1234 * 2654435761) % (1 << 32)
    _, info_s = snapshots.read_version_pruned(spark, path, "k", lo=target, hi=target)
    assert info_s["files_scanned"] >= 7  # ranges can't cut an equality here

    got, info_b = snapshots.read_version_point(spark, path, "k", target)
    assert info_b["files_total"] == 8 and info_b["files_scanned"] <= 2
    assert [r["id"] for r in got.where(F.col("k") == target).collect()] == [1234]

    # zero false negatives: spot keys from different files
    for i in (0, 999, 3777):
        t = (i * 2654435761) % (1 << 32)
        g, _ = snapshots.read_version_point(spark, path, "k", t)
        assert g.where(F.col("k") == t).count() == 1

    # absent value: prunes (almost always to zero files), reads empty
    g0, info0 = snapshots.read_version_point(spark, path, "k", 13)
    assert info0["files_scanned"] <= 2
    assert g0.where(F.col("k") == 13).count() == 0

    # the index survives a rewrite without re-passing bloom_cols
    snapshots.delete_where(spark, path, F.col("id") < 100)
    g2, info2 = snapshots.read_version_point(spark, path, "k", target)
    assert info2["files_scanned"] <= 2
    assert g2.where(F.col("k") == target).count() == 1


def test_log_replay_dispatcher_modes(spark, tmp_path):
    """log_replay_deltas picks the append-only fast path when no file was
    removed and the change feed only across rewrites — and the folded
    state lands exactly on the direct recompute."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 100).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "id"), path)                       # v1
    snapshots.commit(
        spark.range(100, 120).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
        .coalesce(1), path)                                       # v2: append
    snapshots.delete_where(spark, path, F.col("id") < 10)         # v3: rewrite

    modes = []
    deltas = snapshots.log_replay_deltas(spark, path, 1, 3, key="id", modes_out=modes)
    assert modes == ["append", "rewrite"]

    base = snapshots.read_version(spark, path, 1).select("id", "v", F.lit(1).alias("__w"))
    state = base.unionByName(deltas.select("id", "v", "__w")).groupBy("id").agg(
        F.sum("__w").alias("n")).where(F.col("n") > 0)
    assert sorted(r["id"] for r in state.collect()) == list(range(10, 120))


def test_metadata_count_and_quarantine(spark, tmp_path):
    """table_count answers COUNT(*) from the manifest (through appends,
    rewrites, rollback and clone); commit_quarantined splits good/bad rows
    with multi-violation reasons and never drops a row."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 100).repartition(4), path)
    snapshots.commit(spark.range(100, 130).coalesce(1), path)
    assert snapshots.table_count(path, 1) == 100
    assert snapshots.table_count(path, 2) == 130
    snapshots.delete_where(spark, path, F.col("id") < 10)
    assert snapshots.table_count(path) == 120
    snapshots.rollback(path, 2)
    assert snapshots.table_count(path) == 130
    dst = str(tmp_path / "c")
    snapshots.clone(path, dst)
    assert snapshots.table_count(dst) == 130

    good_p, quar_p = str(tmp_path / "g"), str(tmp_path / "q")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    )
    stats = snapshots.commit_quarantined(
        df, good_p,
        constraints={"v_small": F.col("v") < 15, "id_odd": F.col("id") % 2 == 1},
        quarantine_path=quar_p,
    )
    assert stats["n_good"] + stats["n_bad"] == 20
    assert stats["n_good"] == 7  # odd ids < 15: 1,3,...,13
    quar = {r["id"]: r["quarantine_reasons"]
            for r in snapshots.read_version(spark, quar_p).collect()}
    assert quar[0] == "id_odd"                 # even, small: one violation
    assert quar[16] == "id_odd,v_small"        # even, large: both (name-sorted)
    assert quar[15] == "v_small" and quar[17] == "v_small"  # odd but too large
    assert len(quar) == 13


def test_ivm_join_maintenance_commit_is_delta_sized(spark, tmp_path):
    """Join-view IVM: the maintenance commit contains ONLY the delta-join
    rows (dA><B1 + A1><dB + dA><dB) — O(delta), never a view rebuild —
    and the maintained view equals a direct join of the final tables."""
    a_p, b_p, v_p = (str(tmp_path / d) for d in "abv")
    a1 = spark.createDataFrame([(i, i % 4) for i in range(40)], "k long, g long")
    b1 = spark.createDataFrame([(g, f"s{g}") for g in range(3)], "g long, seg string")
    snapshots.commit(a1, a_p)
    snapshots.commit(b1, b_p)
    va = snapshots.read_version(spark, a_p, 1)
    vb = snapshots.read_version(spark, b_p, 1)
    snapshots.commit(va.join(vb, "g").select("k", "g", "seg"), v_p)

    da = spark.createDataFrame([(i, i % 4) for i in range(40, 50)], "k long, g long")
    db = spark.createDataFrame([(3, "s3")], "g long, seg string")
    snapshots.commit(da, a_p)
    snapshots.commit(db, b_p)
    d_a = snapshots.incremental_rows(spark, a_p, 1, 2)
    d_b = snapshots.incremental_rows(spark, b_p, 1, 2)
    delta_view = (
        d_a.join(vb, "g").select("k", "g", "seg")
        .unionByName(va.join(d_b, "g").select("k", "g", "seg"))
        .unionByName(d_a.join(d_b, "g").select("k", "g", "seg"))
    )
    snapshots.commit(delta_view, v_p)

    # the maintenance commit's rows are metadata-countable and delta-sized:
    # dA(g<3): 7 rows + A1(g=3): 10 rows + dA(g=3): 3 rows = 20 << 50
    added = snapshots.table_count(v_p, 2) - snapshots.table_count(v_p, 1)
    assert added == 20

    direct = (
        snapshots.read_version(spark, a_p).join(snapshots.read_version(spark, b_p), "g")
        .select("k", "g", "seg")
    )
    view = snapshots.read_version(spark, v_p)
    assert view.count() == direct.count() == 50
    assert view.exceptAll(direct).count() == 0 and direct.exceptAll(view).count() == 0


def test_schema_enforced_on_write(spark, tmp_path):
    """Delta schema-on-write: an append may ADD columns (the additive
    evolution read_version_merged serves) but dropping or retyping an
    existing column is rejected BEFORE any file lands; overwrite or an
    explicit allow_schema_change resets/permits; the manifest tracks the
    additive schema union."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 3).select("id", F.lit(1.0).alias("v")), path)

    # additive: fine, schema union recorded
    snapshots.commit(
        spark.range(3, 5).select("id", F.lit(2.0).alias("v"), F.lit("x").alias("tag")),
        path,
    )
    assert set(snapshots.read_manifest(path, 2)["schema"]) == {"id", "v", "tag"}

    # dropped column: rejected atomically (no version advanced)
    with _pytest.raises(snapshots.SchemaEnforcementError, match="dropped"):
        snapshots.commit(spark.range(5, 7).select("id"), path)
    # retyped column: rejected
    with _pytest.raises(snapshots.SchemaEnforcementError, match="retyped"):
        snapshots.commit(
            spark.range(5, 7).select("id", F.lit("oops").alias("v")), path
        )
    assert snapshots.latest_version(path) == 2

    # the retry path enforces the same contract
    with _pytest.raises(snapshots.SchemaEnforcementError):
        snapshots.commit_with_retry(spark.range(5, 7).select("id"), path)

    # explicit escape hatches
    snapshots.commit(spark.range(5, 7).select("id"), path, allow_schema_change=True)
    snapshots.commit(spark.range(0, 2).select("id"), path, mode="overwrite")
    assert set(snapshots.read_manifest(path, snapshots.latest_version(path))["schema"]) == {"id"}


def test_vacuum_is_clone_aware_both_directions(spark, tmp_path):
    """The r8 ADVICE/VERDICT clone-vacuum contract, both directions:

    - vacuuming a DIVERGED clone never deletes files it does not own (a
      shallow clone's manifests reference the SOURCE's files);
    - vacuuming the SOURCE keeps every file a registered clone pins, so
      the clone stays readable after the source expires its history."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshots.commit(spark.range(0, 5).coalesce(1), src)    # src v1
    snapshots.commit(spark.range(5, 10).coalesce(1), src)   # src v2
    snapshots.clone(src, dst)                               # dst v1 -> src files

    # direction 1: clone diverges via overwrite, then vacuums its history.
    # dst v1's files all live under src/ — vacuum must not touch them.
    snapshots.commit(spark.range(50, 53).coalesce(1), dst, mode="overwrite")
    removed = snapshots.vacuum(dst, keep_last=1)
    assert removed == []                       # nothing owned was reclaimable
    assert _ids(snapshots.read_version(spark, src)) == list(range(10))
    assert _ids(snapshots.read_version(spark, src, 1)) == list(range(5))

    # direction 2: source rewrites itself away, then vacuums; the clone's
    # registration pins src-v2's files even though no src manifest in the
    # keep window references them (and the old manifests are expired).
    snapshots.commit(spark.range(100, 103).coalesce(1), src, mode="overwrite")
    removed = snapshots.vacuum(src, keep_last=1)
    assert removed == []                       # clone pin kept v1+v2 bytes
    assert _ids(snapshots.read_version(spark, dst)) == [50, 51, 52]
    # an unregistered table WOULD have reclaimed those files: prove the pin
    # is what kept them by removing the registration and vacuuming again
    import os

    snap_dir = os.path.join(src, "_snapshots")
    for f in os.listdir(snap_dir):
        if f.startswith("clone_"):
            os.remove(os.path.join(snap_dir, f))
    # old manifests are already expired; files now orphaned — a re-vacuum
    # can't see them through manifests, so they simply stay (safe default).
    assert _ids(snapshots.read_version(spark, src)) == [100, 101, 102]


def test_rewrite_retry_disjoint_partitions_both_commit(spark, tmp_path):
    """Two THREADED rewriters touching DISJOINT file sets both land
    (Delta-style conflict check on touched files): each drops only its own
    region's file, so the loser of the publish race rebases and succeeds."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).coalesce(1), path)    # commit_v000001
    snapshots.commit(spark.range(5, 10).coalesce(1), path)   # commit_v000002

    barrier = threading.Barrier(2)
    local = threading.local()

    def pred_for(tag):
        def pred(f):
            if not getattr(local, "synced", False):
                local.synced = True
                barrier.wait(timeout=30)   # both snapshot the same version
            return tag in f
        return pred

    jobs = [
        (spark.range(50, 53).coalesce(1), pred_for("commit_v000001")),
        (spark.range(60, 63).coalesce(1), pred_for("commit_v000002")),
    ]
    with ThreadPoolExecutor(2) as ex:
        versions = sorted(
            ex.map(
                lambda j: snapshots.commit_rewrite_with_retry(j[0], path, replace=j[1]),
                jobs,
            )
        )
    assert versions == [3, 4]
    assert _ids(snapshots.read_version(spark, path)) == [50, 51, 52, 60, 61, 62]


def test_rewrite_retry_overlapping_rewrites_conflict(spark, tmp_path):
    """Two rewriters touching the SAME file: exactly one lands, the other
    raises ConcurrentWriteError (no silent lost update) — threaded, with
    both transactions pinned to the same starting snapshot."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).coalesce(1), path)

    barrier = threading.Barrier(2)
    local = threading.local()

    def pred(f):
        if not getattr(local, "synced", False):
            local.synced = True
            barrier.wait(timeout=30)
        return "commit_v000001" in f

    def run(df):
        try:
            return ("ok", snapshots.commit_rewrite_with_retry(df, path, replace=pred))
        except snapshots.ConcurrentWriteError:
            return ("conflict", None)

    frames = [spark.range(50, 53).coalesce(1), spark.range(60, 63).coalesce(1)]
    with ThreadPoolExecutor(2) as ex:
        results = list(ex.map(run, frames))
    assert sorted(r[0] for r in results) == ["conflict", "ok"]
    got = _ids(snapshots.read_version(spark, path))
    assert got in ([50, 51, 52], [60, 61, 62])  # winner's rows only

    # write-after-read flavor: a rewrite whose predicate matches files that
    # appeared AFTER its snapshot must also conflict, not swallow them
    path2 = str(tmp_path / "t2")
    snapshots.commit(spark.range(0, 3).coalesce(1), path2)
    seen = {"n": 0}
    real = snapshots.latest_version

    def stale_once(p):
        seen["n"] += 1
        return real(p) if seen["n"] > 1 else 1

    snapshots.commit(spark.range(3, 6).coalesce(1), path2)  # interloper v2
    import unittest.mock as mock

    with mock.patch.object(snapshots, "latest_version", side_effect=stale_once):
        with _pytest.raises(snapshots.ConcurrentWriteError, match="added after"):
            snapshots.commit_rewrite_with_retry(
                spark.range(50, 52).coalesce(1), path2, replace=lambda f: True
            )


def test_commit_with_retry_rechecks_schema_after_race(spark, tmp_path):
    """ADVICE r8: after losing a publish race the retry rebases onto the
    winner's manifest — and must re-run the drop/retype check against THAT
    schema, or a concurrent schema change is silently merged."""
    import unittest.mock as mock

    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 3).select("id", F.lit(1.0).alias("v")), path)

    real = snapshots.latest_version
    calls = {"n": 0}

    def stale_once(p):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(p)

    # interloper retypes v to string (explicitly allowed on ITS commit)
    snapshots.commit(
        spark.range(3, 5).select("id", F.lit("s").alias("v")),
        path,
        allow_schema_change=True,
    )
    with mock.patch.object(snapshots, "latest_version", side_effect=stale_once):
        with _pytest.raises(snapshots.SchemaEnforcementError, match="retyped"):
            snapshots.commit_with_retry(
                spark.range(5, 7).select("id", F.lit(2.0).alias("v")), path
            )


def test_compact_files_partition_scoped(spark, tmp_path):
    """compact_files (OPTIMIZE WHERE): compacting a file subset rewrites
    only those files, maintains manifest stats for the new file, and keeps
    content identical.  (The stale-snapshot conflict path is pinned in
    test_rewrite_retry_overlapping_rewrites_conflict.)"""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 80).repartitionByRange(8, "id"), path, stats_cols=["id"]
    )
    m1 = snapshots.read_manifest(path, 1)
    assert len(m1["files"]) == 8
    low = set(sorted(m1["files"], key=lambda f: m1["stats"][f]["id"][0])[:4])

    st = snapshots.compact_files(spark, path, match_file=lambda f: f in low)
    assert st["files_compacted"] == 4 and st["files_after"] == 5
    assert _ids(snapshots.read_version(spark, path)) == list(range(80))
    # stats maintained: the compacted file carries a fresh id range
    m2 = snapshots.read_manifest(path, st["version"])
    new_files = [f for f in m2["files"] if f not in m1["files"]]
    assert len(new_files) == 1 and "id" in m2["stats"][new_files[0]]

    # no-op selection returns the current version untouched; a re-compact
    # of the already-compacted region selects nothing (the files are gone
    # from the manifest) and is likewise a no-op, not a data loss
    st2 = snapshots.compact_files(spark, path, match_file=lambda f: False)
    assert st2 == {"version": st["version"], "files_compacted": 0, "files_after": 5}
    st3 = snapshots.compact_files(spark, path, match_file=lambda f: f in low)
    assert st3["files_compacted"] == 0
    assert _ids(snapshots.read_version(spark, path)) == list(range(80))


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE/UPDATE)
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path, n=40, files=4):
    path = str(tmp_path / "dvt")
    df = spark.range(0, n).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 10).alias("val")
    )
    snapshots.commit(df.repartitionByRange(files, "id"), path, stats_cols=["id"])
    return path


def test_dv_delete_rewrites_nothing_and_hides_rows(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    files_v1 = set(snapshots.read_manifest(path, 1)["files"])
    r = snapshots.delete_where_dv(spark, path, F.col("grp") == 2)
    assert r["files_rewritten"] == 0 and r["rows_deleted"] == 8
    m2 = snapshots.read_manifest(path, 2)
    assert set(m2["files"]) == files_v1  # same bytes, new manifest
    assert _ids(snapshots.read_version(spark, path)) == [
        i for i in range(40) if i % 5 != 2
    ]
    # time travel to v1 ignores the vectors
    assert _ids(snapshots.read_version(spark, path, 1)) == list(range(40))


def test_dv_delete_by_keys_frame(spark, tmp_path):
    """The CDC-apply form: rows selected by a broadcast keys DataFrame
    instead of a predicate — same DV semantics (zero rewrites, idempotent,
    absent keys match nothing and burn no version)."""
    import pytest

    path = _dv_table(spark, tmp_path)
    keys = spark.range(0, 100).where("id % 7 = 3")  # some beyond the table
    r = snapshots.delete_where_dv(spark, path, keys=keys, key="id")
    assert r["files_rewritten"] == 0
    assert r["rows_deleted"] == len([i for i in range(40) if i % 7 == 3])
    assert _ids(snapshots.read_version(spark, path)) == [
        i for i in range(40) if i % 7 != 3
    ]
    again = snapshots.delete_where_dv(spark, path, keys=keys, key="id")
    assert again["rows_deleted"] == 0 and again["version"] == r["version"]
    with pytest.raises(ValueError, match="exactly one"):
        snapshots.delete_where_dv(spark, path)
    with pytest.raises(ValueError, match="exactly one"):
        snapshots.delete_where_dv(spark, path, F.col("id") < 3, keys=keys, key="id")
    with pytest.raises(ValueError, match="key="):
        snapshots.delete_where_dv(spark, path, keys=keys)


def test_dv_metadata_count_subtracts_vectors(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 7)
    assert snapshots.table_count(path) == 33
    assert snapshots.read_version(spark, path).count() == 33
    assert snapshots.table_count(path, 1) == 40


def test_dv_deletes_accumulate_and_are_idempotent(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 5)
    again = snapshots.delete_where_dv(spark, path, F.col("id") < 5)
    assert again["rows_deleted"] == 0
    assert again["version"] == 2  # zero-hit delete is a no-op, no version burned
    snapshots.delete_where_dv(spark, path, F.col("id") >= 35)
    assert _ids(snapshots.read_version(spark, path)) == list(range(5, 35))


def test_dv_null_predicate_rows_are_kept(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v int"
    )
    snapshots.commit(df, path)
    snapshots.delete_where_dv(spark, path, F.col("v") > 15)
    assert _ids(snapshots.read_version(spark, path)) == [1, 2]  # NULL kept


def test_dv_append_after_delete_does_not_resurrect(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") % 2 == 0)
    snapshots.commit(spark.range(100, 103).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 10).alias("val")
    ), path)
    got = _ids(snapshots.read_version(spark, path))
    assert got == [i for i in range(40) if i % 2 == 1] + [100, 101, 102]


def test_dv_update_is_one_atomic_version(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    v0 = snapshots.latest_version(path)
    r = snapshots.update_where_dv(
        spark, path, F.col("grp") == 1, {"val": F.col("val") + 1}
    )
    assert r["version"] == v0 + 1 and r["files_rewritten"] == 0
    rows = {x["id"]: x["val"] for x in snapshots.read_version(spark, path).collect()}
    assert len(rows) == 40  # no dup, no loss
    for i in range(40):
        assert rows[i] == i * 10 + (1 if i % 5 == 1 else 0)


def test_dv_materialize_purges_and_clears(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id").isin(3, 17, 33))
    r = snapshots.materialize_dvs(spark, path)
    assert r["rows_purged"] == 3 and r["files_rewritten"] >= 1
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert "dv" not in m
    assert _ids(snapshots.read_version(spark, path)) == [
        i for i in range(40) if i not in (3, 17, 33)
    ]
    # physical row counts now match the metadata count with no subtraction
    assert snapshots.table_count(path) == 37


def test_dv_compact_applies_vectors(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 10)
    r = snapshots.compact_files(spark, path, match_file=lambda f: True, target_files=1)
    m = snapshots.read_manifest(path, r["version"])
    assert "dv" not in m or not m["dv"]
    assert _ids(snapshots.read_version(spark, path)) == list(range(10, 40))


def test_dv_pruned_and_merged_reads_respect_vectors(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id").between(10, 19))
    df, info = snapshots.read_version_pruned(spark, path, "id", lo=0, hi=25)
    assert info["files_scanned"] < info["files_total"] or info["files_total"] == 1
    assert sorted(r["id"] for r in df.collect() if r["id"] <= 25) == (
        list(range(10)) + list(range(20, 26))
    )
    got = _ids(snapshots.read_version_merged(spark, path))
    assert got == list(range(10)) + list(range(20, 40))


def test_dv_rollback_restores_pre_delete_state(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 20)
    snapshots.rollback(path, 1)
    assert snapshots.table_count(path) == 40
    assert _ids(snapshots.read_version(spark, path)) == list(range(40))


def test_dv_merge_upsert_on_dv_table(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 10)
    delta = spark.createDataFrame(
        [(2, 99, 999), (15, 99, 999)], "id long, grp long, val long"
    )
    snapshots.merge_upsert(spark, path, delta, key="id")
    rows = {r["id"]: r["val"] for r in snapshots.read_version(spark, path).collect()}
    # id=2 was DV-deleted: the merge INSERTS it anew; ids 0,1,3..9 stay gone
    assert rows[2] == 999 and rows[15] == 999
    assert sorted(rows) == [2] + list(range(10, 40))


def test_dv_change_feed_sees_dv_deletes(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    v = snapshots.delete_where_dv(spark, path, F.col("id").isin(5, 6))["version"]
    feed = snapshots.change_feed(spark, path, 1, v, key="id").collect()
    assert sorted((r["id"], r["change_type"]) for r in feed) == [
        (5, "delete"), (6, "delete")
    ]


def test_dv_incremental_fast_path_refuses_dv_commits(spark, tmp_path):
    import pytest

    path = _dv_table(spark, tmp_path)
    v = snapshots.delete_where_dv(spark, path, F.col("id") == 0)["version"]
    with pytest.raises(ValueError, match="deletion vectors"):
        snapshots.incremental_rows(spark, path, 1, v)


def test_dv_vacuum_expires_sidecars_with_history(spark, tmp_path):
    import os

    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 4)          # v2
    sc2 = [e["path"] for e in snapshots.read_manifest(path, 2)["dv"].values()]
    snapshots.materialize_dvs(spark, path)                           # v3: purged
    snapshots.commit(spark.range(200, 201).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 10).alias("val")
    ), path)                                                         # v4
    snapshots.vacuum(path, keep_last=2)
    assert all(not os.path.exists(p) for p in sc2)  # v2's vectors expired
    assert _ids(snapshots.read_version(spark, path)) == list(range(4, 40)) + [200]


def test_dv_vacuum_keeps_sidecars_referenced_by_kept_versions(spark, tmp_path):
    import os

    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 4)          # v2
    snapshots.commit(spark.range(300, 302).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 10).alias("val")
    ), path)                                                         # v3 carries dv
    snapshots.vacuum(path, keep_last=1)
    m = snapshots.read_manifest(path, 3)
    assert all(os.path.exists(e["path"]) for e in m["dv"].values())
    assert _ids(snapshots.read_version(spark, path)) == (
        list(range(4, 40)) + [300, 301]
    )


def test_dv_clone_pins_source_vectors_through_source_vacuum(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 6)          # v2
    clone_path = str(tmp_path / "c")
    snapshots.clone(path, clone_path)                                # pins v2 incl. dv
    snapshots.materialize_dvs(spark, path)                           # v3
    snapshots.commit(spark.range(400, 401).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 10).alias("val")
    ), path)                                                         # v4
    snapshots.vacuum(path, keep_last=1)
    # the clone still reads the DV'd view of the source's files
    assert _ids(snapshots.read_version(spark, clone_path)) == list(range(6, 40))


def test_dv_streaming_feed_refuses_silent_deletes(spark, tmp_path):
    import os

    import pytest

    path = _dv_table(spark, tmp_path)
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "feed_state.json")
    first = snapshots.stage_incremental_files(path, staging, state)
    assert len(first) >= 1
    snapshots.delete_where_dv(spark, path, F.col("id") < 5)
    with pytest.raises(ValueError, match="ignore_deletes"):
        snapshots.stage_incremental_files(path, staging, state)
    # opting in advances the feed without retraction (Delta ignoreDeletes)
    assert snapshots.stage_incremental_files(
        path, staging, state, ignore_deletes=True
    ) == []
    snapshots.commit(spark.range(500, 502).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 10).alias("val")
    ), path)
    staged = snapshots.stage_incremental_files(path, staging, state)
    assert len(staged) >= 1 and all(os.path.exists(p) for p in staged)


def test_dv_update_casts_assignment_to_existing_type(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 10).selectExpr("id", "CAST(id * 1.5 AS DECIMAL(10,1)) AS val")
    snapshots.commit(df, path)
    # decimal(10,1) + 100 widens to decimal(11,1); the update must cast the
    # image back so schema-on-write sees the SAME column type
    snapshots.update_where_dv(
        spark, path, F.col("id") < 3, {"val": F.col("val") + 100}
    )
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m["schema"]["val"] == "decimal(10,1)"
    got = {r["id"]: float(r["val"]) for r in snapshots.read_version(spark, path).collect()}
    assert got[0] == 100.0 and got[2] == 103.0 and got[5] == 7.5


def test_dv_optimize_materializes_vectors(spark, tmp_path):
    path = _dv_table(spark, tmp_path)
    snapshots.delete_where_dv(spark, path, F.col("id").between(8, 15))
    r = snapshots.optimize(spark, path, target_files=1)
    m = snapshots.read_manifest(path, r["version"])
    assert "dv" not in m and r["files_after"] == 1
    assert _ids(snapshots.read_version(spark, path)) == (
        list(range(8)) + list(range(16, 40))
    )


# --- round-10 DV-guard regressions (ADVICE r9) --------------------------------


def test_incremental_rows_applies_dv_on_added_files(spark, tmp_path):
    """A file appended within (v_from, v_to] and then DV-deleted before v_to
    must come back with its vector APPLIED — deleted rows never resurrect in
    the incremental output (the r9 silent-leak hole)."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)  # v1 (fed baseline)
    snapshots.commit(spark.range(5, 10), path)  # v2 adds files
    snapshots.delete_where_dv(spark, path, F.col("id").isin(6, 8))  # v3 DVs them
    assert _ids(snapshots.incremental_rows(spark, path, 1, 3)) == [5, 7, 9]


def test_incremental_rows_dv_on_carried_files_still_raises(spark, tmp_path):
    """A DV landing on an ALREADY-DELIVERED file is a retraction — the
    append-only fast path must refuse and point at change_feed."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5), path)  # v1
    snapshots.delete_where_dv(spark, path, F.col("id") == 1)  # v2 DVs v1's file
    with _pytest.raises(ValueError, match="change_feed"):
        snapshots.incremental_rows(spark, path, 1, 2)


def test_stage_incremental_files_initial_feed_with_dv_raises(spark, tmp_path):
    """Initial feed (last_fed == 0) of a table already carrying DVs must NOT
    hardlink the raw files — the parquet bytes still contain the deleted
    rows (the r9 GDPR-leak hole #1)."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    staging, state = str(tmp_path / "stage"), str(tmp_path / "state.json")
    snapshots.commit(spark.range(0, 10), path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 3)
    with _pytest.raises(ValueError, match="ignore_deletes"):
        snapshots.stage_incremental_files(path, staging, state)
    # the opt-out is explicit and still works
    assert snapshots.stage_incremental_files(
        path, staging, state, ignore_deletes=True
    )


def test_stage_incremental_files_added_then_dv_raises(spark, tmp_path):
    """A file ADDED within the fed range and DV-deleted before the feed
    advances is staged-with-vector — must raise, not link raw (hole #2)."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    staging, state = str(tmp_path / "stage"), str(tmp_path / "state.json")
    snapshots.commit(spark.range(0, 5), path)  # v1
    assert snapshots.stage_incremental_files(path, staging, state)  # feed v1
    snapshots.commit(spark.range(5, 10), path)  # v2 adds files
    snapshots.delete_where_dv(spark, path, F.col("id") == 7)  # v3 DVs an added file
    with _pytest.raises(ValueError, match="ignore_deletes"):
        snapshots.stage_incremental_files(path, staging, state)


def test_update_where_dv_zero_match_is_a_noop(spark, tmp_path):
    """An UPDATE whose predicate matches nothing must not burn a version or
    publish an empty commit (mirrors delete_where_dv's early return)."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 5).select("id", (F.col("id") * 1.0).alias("v")), path
    )
    r = snapshots.update_where_dv(
        spark, path, F.col("id") > 100, {"v": F.lit(0.0)}
    )
    assert r == {
        "version": 1,
        "rows_updated": 0,
        "files_with_dv": 0,
        "files_rewritten": 0,
    }
    assert snapshots.latest_version(path) == 1


def test_scan_files_large_dv_distributed_path(spark, tmp_path):
    """Above DV_DRIVER_MAX_POSITIONS the anti-join side is decoded
    executor-side from the sidecars (no driver position list); results must
    be identical to the small-vector broadcast path."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 200_000), path)
    r = snapshots.delete_where_dv(spark, path, F.col("id") % 3 != 0)
    assert r["rows_deleted"] == 133_333 > snapshots.DV_DRIVER_MAX_POSITIONS
    got = snapshots.read_version(spark, path)
    assert got.count() == 66_667
    assert got.agg(F.min("id"), F.max("id")).first() == (0, 199_998)
    # spot-check membership: only multiples of 3 survive
    assert _ids(got.where(F.col("id") < 10)) == [0, 3, 6, 9]


def test_scan_files_huge_dv_shuffle_antijoin(spark, tmp_path, monkeypatch):
    """Above DV_BROADCAST_MAX_POSITIONS the broadcast hint is dropped
    (shuffle anti-join) — same results, driver never holds positions."""
    monkeypatch.setattr(snapshots, "DV_DRIVER_MAX_POSITIONS", 1_000)
    monkeypatch.setattr(snapshots, "DV_BROADCAST_MAX_POSITIONS", 2_000)
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 10_000), path)
    snapshots.delete_where_dv(spark, path, F.col("id") % 2 == 1)
    got = snapshots.read_version(spark, path)
    assert got.count() == 5_000
    assert _ids(got.where(F.col("id") < 8)) == [0, 2, 4, 6]


def test_change_feed_deltas_dv_fast_path_matches_join_feed(spark, tmp_path):
    """The O(Δ) per-transition feed over append → delete_dv → update_dv →
    append must (a) dispatch 'append'/'dv'/'dv'/'append' — never opening an
    untouched file — and (b) emit exactly the join-based change_feed's rows
    per transition."""
    path = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        "id", (F.col("id") % 4).alias("grp"), (F.col("id") * 2.0).alias("v")
    )
    snapshots.commit(df.repartitionByRange(4, "id"), path)  # v1
    snapshots.delete_where_dv(spark, path, F.col("grp") == 1)  # v2: 10 deletes
    snapshots.update_where_dv(  # v3: 10 pre + 10 post
        spark, path, F.col("grp") == 2, {"v": F.col("v") + 1000.0}
    )
    snapshots.commit(  # v4: 5 inserts
        spark.range(100, 105).select(
            "id", (F.col("id") % 4).alias("grp"), (F.col("id") * 2.0).alias("v")
        ),
        path,
    )
    modes: list = []
    fast = snapshots.change_feed_deltas(spark, path, 1, 4, key="id", modes_out=modes)
    assert modes == ["dv", "dv", "append"]

    def canon(df_):
        return sorted(tuple(r) for r in df_.collect())

    slow = None
    for v in (1, 2, 3):
        cf = snapshots.change_feed(spark, path, v, v + 1, key="id").select(
            "id", "change_type", "grp", "v"
        )
        slow = cf if slow is None else slow.unionByName(cf)
    assert canon(fast) == canon(slow)
    by_type = {
        r["change_type"]: r["n"]
        for r in fast.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "delete": 10, "update_preimage": 10, "update_postimage": 10, "insert": 5
    }


def test_change_feed_deltas_rewrite_fallback(spark, tmp_path):
    """A CoW rewrite inside the range falls back to the join-based feed for
    that transition only."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 20).select("id", (F.col("id") * 1.0).alias("v")),
                     path)  # v1
    snapshots.delete_where(spark, path, F.col("id") < 5)  # v2: CoW rewrite
    modes: list = []
    fast = snapshots.change_feed_deltas(spark, path, 1, 2, key="id", modes_out=modes)
    assert modes == ["rewrite"]
    assert {r["change_type"] for r in fast.collect()} == {"delete"}
    assert fast.count() == 5


def test_log_replay_deltas_handles_dv_transitions(spark, tmp_path):
    """Signed-delta replay across a DV delete advances a maintained count
    exactly, dispatching 'dv' (not a full change_feed join)."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 30).select("id", (F.col("id") % 3).alias("g")),
                     path)  # v1
    snapshots.commit(spark.range(30, 40).select("id", (F.col("id") % 3).alias("g")),
                     path)  # v2
    snapshots.delete_where_dv(spark, path, F.col("g") == 0)  # v3
    modes: list = []
    d = snapshots.log_replay_deltas(spark, path, 1, 3, key="id", modes_out=modes)
    assert modes == ["append", "dv"]
    net = d.agg(F.sum("__w")).first()[0]
    v1_n = snapshots.read_version(spark, path, 1).count()
    v3_n = snapshots.read_version(spark, path, 3).count()
    assert v1_n + net == v3_n


def test_delete_where_dv_distributed_write_path(spark, tmp_path, monkeypatch):
    """Above DV_DRIVER_MAX_POSITIONS the sidecars are written executor-side
    (applyInPandas per file); results — manifest entries, read-back content,
    idempotent re-delete, previous-vector merge — must be identical to the
    driver path."""
    monkeypatch.setattr(snapshots, "DV_DRIVER_MAX_POSITIONS", 100)
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 2_000).repartitionByRange(4, "id"), path
    )
    r1 = snapshots.delete_where_dv(spark, path, F.col("id") % 2 == 0)  # 1000 hits
    assert r1["rows_deleted"] == 1_000 and r1["files_rewritten"] == 0
    assert _ids(snapshots.read_version(spark, path))[:5] == [1, 3, 5, 7, 9]
    # idempotent: predicate over LIVE rows matches nothing the second time
    r2 = snapshots.delete_where_dv(spark, path, F.col("id") % 2 == 0)
    assert r2["rows_deleted"] == 0 and r2["version"] == r1["version"]
    # second delete MERGES with the previous large vector, executor-side
    r3 = snapshots.delete_where_dv(spark, path, F.col("id") % 3 == 0)
    assert r3["rows_deleted"] == 333  # odd multiples of 3 in [0, 2000)
    got = _ids(snapshots.read_version(spark, path))
    assert len(got) == 667 and all(i % 2 == 1 and i % 3 != 0 for i in got)
    m = snapshots.read_manifest(path, r3["version"])
    assert sum(e["n"] for e in m["dv"].values()) == 1_333


def test_change_feed_deltas_dv_rollback_falls_back(spark, tmp_path):
    """A rollback that only DROPS a vector on carried files (re-pointing past
    a delete_dv, same file list) violates the monotone-growth invariant —
    the transition must fall back to the join-based feed, resurfacing the
    un-deleted rows as inserts."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 10).coalesce(1), path)  # v1
    snapshots.delete_where_dv(spark, path, F.col("id") < 3)  # v2
    snapshots.rollback(path, 1)  # v3: same files, vector gone
    modes: list = []
    feed = snapshots.change_feed_deltas(spark, path, 2, 3, key="id", modes_out=modes)
    assert modes == ["rewrite"]  # the fallback label
    got = sorted((r["id"], r["change_type"]) for r in feed.collect())
    assert got == [(0, "insert"), (1, "insert"), (2, "insert")]


# --- round-10 column mapping (RENAME COLUMN, metadata-only) -------------------


def test_rename_column_metadata_only_roundtrip(spark, tmp_path):
    """Rename rewrites ZERO files; reads map physical->logical; appends
    written AFTER the rename land under the physical name so all files
    agree; time travel to the pre-rename version shows the old schema."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 10).select("id", (F.col("id") * 2.0).alias("v")), path
    )  # v1
    files_v1 = snapshots.read_manifest(path, 1)["files"]
    snapshots.rename_column(path, "v", "val")  # v2, metadata only
    m2 = snapshots.read_manifest(path, 2)
    assert m2["files"] == files_v1 and m2["column_map"] == {"val": "v"}
    got = snapshots.read_version(spark, path)
    assert got.columns == ["id", "val"]
    assert got.agg(F.sum("val")).first()[0] == 90.0
    # time travel: pre-rename version keeps the OLD logical name
    assert snapshots.read_version(spark, path, 1).columns == ["id", "v"]
    # append with the NEW logical name: file lands under the PHYSICAL name
    snapshots.commit(
        spark.range(10, 15).select("id", (F.col("id") * 2.0).alias("val")), path
    )  # v3
    got = snapshots.read_version(spark, path)
    assert got.count() == 15 and got.columns == ["id", "val"]
    new_files = [f for f in snapshots.read_manifest(path, 3)["files"]
                 if f not in files_v1]
    raw = spark.read.parquet(*new_files)
    assert raw.columns == ["id", "v"]  # physical name on disk
    # appending with the OLD name is now a schema violation (missing 'val')
    with _pytest.raises(snapshots.SchemaEnforcementError):
        snapshots.commit(
            spark.range(15, 16).select("id", (F.col("id") * 2.0).alias("v")),
            path,
        )
    # guards
    with _pytest.raises(ValueError, match="already exists"):
        snapshots.rename_column(path, "val", "id")
    with _pytest.raises(ValueError, match="no column"):
        snapshots.rename_column(path, "nope", "x")


def test_rename_column_keeps_stats_pruning_and_dv(spark, tmp_path):
    """Stats recorded pre-rename keep pruning on the NEW logical name, and
    deletion vectors ride through the rename untouched."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 100).select("id", (F.col("id") % 10).alias("g"))
        .repartitionByRange(4, "id"),
        path,
        stats_cols=["id"],
    )
    snapshots.delete_where_dv(spark, path, F.col("id") % 10 == 3)
    snapshots.rename_column(path, "id", "row_id")
    pruned, info = snapshots.read_version_pruned(spark, path, "row_id", lo=0, hi=20)
    assert info["files_scanned"] < info["files_total"]
    got = sorted(r["row_id"] for r in pruned.where(F.col("row_id") <= 20).collect())
    assert got == [i for i in range(21) if i % 10 != 3]
    # renaming back re-points the map to the same physical name (identity)
    snapshots.rename_column(path, "row_id", "id")
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert "column_map" not in m or m["column_map"] == {}
    assert snapshots.read_version(spark, path).columns == ["id", "g"]


def test_rename_column_cow_and_mor_interplay(spark, tmp_path):
    """DV update and CoW delete on the RENAMED logical column; a rename
    transition is a zero-row change feed."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 20).select("id", (F.col("id") * 1.0).alias("v")), path
    )  # v1
    snapshots.rename_column(path, "v", "price")  # v2
    snapshots.update_where_dv(  # v3: assignment on the NEW name
        spark, path, F.col("id") < 5, {"price": F.col("price") + 100.0}
    )
    got = {r["id"]: r["price"] for r in snapshots.read_version(spark, path).collect()}
    assert got[0] == 100.0 and got[10] == 10.0
    snapshots.delete_where(spark, path, F.col("price") >= 103.0)  # v4 CoW
    assert snapshots.read_version(spark, path).count() == 18
    modes: list = []
    feed = snapshots.change_feed_deltas(spark, path, 1, 2, key="id", modes_out=modes)
    assert feed.count() == 0 and modes == ["append"]


def test_drop_column_metadata_only(spark, tmp_path):
    """Drop rewrites zero files; current scans project the slot out; old
    versions still read it; the slot may not be reused; OVERWRITE
    rebaselines and clears the restriction."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 10).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v", "id % 3 AS g"), path
    )  # v1
    files_v1 = snapshots.read_manifest(path, 1)["files"]
    snapshots.drop_column(path, "g")  # v2
    m2 = snapshots.read_manifest(path, 2)
    assert m2["files"] == files_v1 and m2["dropped_physical"] == ["g"]
    assert snapshots.read_version(spark, path).columns == ["id", "v"]
    assert snapshots.read_version(spark, path, 1).columns == ["id", "v", "g"]
    # appends without the dropped column pass enforcement now
    snapshots.commit(spark.range(10, 12).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v"), path)
    assert snapshots.read_version(spark, path).count() == 12
    # the dropped slot may NOT be reused by a new column
    with _pytest.raises(snapshots.SchemaEnforcementError, match="DROPPED"):
        snapshots.commit(
            spark.range(12, 13).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v", "id AS g"), path
        )
    # rename TO a dropped slot's name is fine: it maps to the OLD physical
    snapshots.rename_column(path, "v", "g2")
    assert snapshots.read_version(spark, path).columns == ["id", "g2"]
    # OVERWRITE rebaselines: dropped list clears, the name is free again
    snapshots.commit(
        spark.range(0, 5).selectExpr("id", "id AS g"), path, mode="overwrite"
    )
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert "dropped_physical" not in m
    assert snapshots.read_version(spark, path).columns == ["id", "g"]


def test_drop_then_rename_then_dv_interplay(spark, tmp_path):
    """Drop + rename + DV delete compose: the scan projects the dead slot,
    maps the renamed one, and anti-joins the vectors, all in one read."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 20).selectExpr("id", "id * 1.0 AS a", "id * 2.0 AS b"),
        path,
    )
    snapshots.drop_column(path, "a")
    snapshots.rename_column(path, "b", "bb")
    snapshots.delete_where_dv(spark, path, F.col("id") % 4 == 1)
    got = snapshots.read_version(spark, path)
    assert got.columns == ["id", "bb"]
    assert got.count() == 15
    assert got.agg(F.sum("bb")).first()[0] == sum(
        i * 2.0 for i in range(20) if i % 4 != 1
    )


# --- round-10 table-level CHECK constraints -----------------------------------


def test_table_constraint_lifecycle(spark, tmp_path):
    """ADD CONSTRAINT validates existing data, then EVERY later commit is
    enforced and rejected atomically; DROP CONSTRAINT lifts it; renaming or
    dropping a referenced column is rejected."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 10).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v"), path
    )  # v1
    # adding a constraint existing data violates is rejected, no version burnt
    with _pytest.raises(snapshots.ConstraintViolation, match="existing"):
        snapshots.add_table_constraint(spark, path, "v_big", "v >= 5.0")
    assert snapshots.latest_version(path) == 1
    assert snapshots.add_table_constraint(spark, path, "v_nonneg", "v >= 0.0") == 2
    # violating append is rejected atomically by plain commit()
    with _pytest.raises(snapshots.ConstraintViolation, match="v_nonneg"):
        snapshots.commit(
            spark.range(10, 12).selectExpr("id", "CAST(-1.0 AS DOUBLE) AS v"),
            path,
        )
    assert snapshots.latest_version(path) == 2
    assert snapshots.read_version(spark, path).count() == 10
    # MoR UPDATE post-images are enforced too (they go through commit)
    with _pytest.raises(snapshots.ConstraintViolation):
        snapshots.update_where_dv(
            spark, path, F.col("id") < 3, {"v": F.col("v") - 1000.0}
        )
    # a conforming append passes and the constraint travels with the log
    snapshots.commit(spark.range(10, 12).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v"), path)
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m["constraints"] == {"v_nonneg": "v >= 0.0"}
    # schema ops on a referenced column are rejected until the drop
    with _pytest.raises(ValueError, match="reference"):
        snapshots.rename_column(path, "v", "val")
    with _pytest.raises(ValueError, match="reference"):
        snapshots.drop_column(path, "v")
    snapshots.drop_table_constraint(path, "v_nonneg")
    snapshots.rename_column(path, "v", "val")
    snapshots.commit(
        spark.range(12, 13).selectExpr("id", "CAST(-1.0 AS DOUBLE) AS val"), path
    )  # allowed again after the drop
    assert snapshots.read_version(spark, path).count() == 13
    modes = [h["mode"] for h in snapshots.history(path)]
    assert "add_constraint" in modes and "drop_constraint" in modes


def test_table_constraint_enforced_in_retry_writers(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path)
    snapshots.add_table_constraint(spark, path, "v_nonneg", "v >= 0.0")
    with _pytest.raises(snapshots.ConstraintViolation):
        snapshots.commit_with_retry(
            spark.range(5, 6).selectExpr("id", "CAST(-1.0 AS DOUBLE) AS v"), path
        )
    assert snapshots.commit_with_retry(
        spark.range(5, 6).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    ) == 3


def test_clone_carries_column_map_and_constraints(spark, tmp_path):
    """A shallow clone of a renamed + constrained table reads with the
    logical schema and keeps enforcing the constraint on ITS OWN commits."""
    import pytest as _pytest

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshots.commit(
        spark.range(0, 10).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v"), src
    )
    snapshots.rename_column(src, "v", "price")
    snapshots.add_table_constraint(spark, src, "p_nonneg", "price >= 0.0")
    snapshots.clone(src, dst)
    got = snapshots.read_version(spark, dst)
    assert got.columns == ["id", "price"]
    assert got.count() == 10
    with _pytest.raises(snapshots.ConstraintViolation):
        snapshots.commit(
            spark.range(10, 11).selectExpr(
                "id", "CAST(-1.0 AS DOUBLE) AS price"
            ),
            dst,
        )
    # a conforming append to the clone writes under the PHYSICAL name
    snapshots.commit(
        spark.range(10, 12).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS price"),
        dst,
    )
    assert snapshots.read_version(spark, dst).count() == 12
    m = snapshots.read_manifest(dst, snapshots.latest_version(dst))
    assert m["column_map"] == {"price": "v"}


def test_new_column_may_not_shadow_renamed_physical_slot(spark, tmp_path):
    """Adding a column literally named like a renamed column's PHYSICAL slot
    would write two physical columns with one name — rejected up front."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 5).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v"), path
    )
    snapshots.rename_column(path, "v", "price")
    with _pytest.raises(snapshots.SchemaEnforcementError, match="shadow"):
        snapshots.commit(
            spark.range(5, 6).selectExpr(
                "id", "CAST(id * 1.5 AS DOUBLE) AS price", "id AS v"
            ),
            path,
        )
    # a differently-named new column is plain additive evolution
    snapshots.commit(
        spark.range(5, 6).selectExpr(
            "id", "CAST(id * 1.5 AS DOUBLE) AS price", "id AS w"
        ),
        path,
    )
    assert snapshots.read_version_merged(spark, path).count() == 6


# --- round-11: ADVICE fixes + schema-evolution x feed guards ------------------


def test_change_feed_deltas_dv_after_rename(spark, tmp_path):
    """ADVICE r10 (high): a delete_dv transition on a column-mapped table
    must read its pre-images through the column map — the raw parquet scan
    resolved only PHYSICAL names, so the feed threw UNRESOLVED_COLUMN after
    any rename."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 12).selectExpr("id", "CAST(id * 2.0 AS DOUBLE) AS v"),
        path,
    )  # v1
    snapshots.rename_column(path, "v", "price")  # v2 (metadata-only)
    snapshots.delete_where_dv(spark, path, F.col("price") < 6.0)  # v3
    modes: list = []
    feed = snapshots.change_feed_deltas(spark, path, 2, 3, key="id", modes_out=modes)
    assert modes == ["dv"]  # the fast path, not the rewrite fallback
    got = sorted((r["id"], r["change_type"], r["price"]) for r in feed.collect())
    assert got == [(0, "delete", 0.0), (1, "delete", 2.0), (2, "delete", 4.0)]
    # and the signed-delta dispatcher rides the same fixed path
    d = snapshots.log_replay_deltas(spark, path, 2, 3, key="id")
    assert d.agg(F.sum("__w")).first()[0] == -3


def test_change_feed_dv_preimages_after_swap_rename(spark, tmp_path):
    """The silent-wrong-values arm: after a swap-style rename (a->tmp,
    b->a, tmp->b) logical and physical names CROSS, so an unmapped
    pre-image read would bind each logical column to the OTHER column's
    bytes.  The feed must report the swapped (logical) values."""
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 6).selectExpr(
            "id", "CAST(id AS DOUBLE) AS a", "CAST(id * 100 AS DOUBLE) AS b"
        ),
        path,
    )  # v1: physical a=id, b=100*id
    snapshots.rename_column(path, "a", "tmp")  # v2
    snapshots.rename_column(path, "b", "a")    # v3: logical a -> physical b
    snapshots.rename_column(path, "tmp", "b")  # v4: logical b -> physical a
    snapshots.delete_where_dv(spark, path, F.col("id") == 2)  # v5
    feed = snapshots.change_feed_deltas(spark, path, 4, 5, key="id")
    row = feed.collect()[0]
    # logical a carries the OLD b bytes (200.0); logical b the old a (2.0)
    assert (row["change_type"], row["a"], row["b"]) == ("delete", 200.0, 2.0)


def test_retry_writers_detect_concurrent_constraint_change(spark, tmp_path):
    """ADVICE r10 (medium): a constraint added between a retry writer's
    data write and its publish must surface as ConcurrentWriteError — a
    silent carry-forward would both skip validating the new rows and DROP
    the winner's constraint from the published manifest."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 5).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    )
    orig_publish = snapshots._publish
    state = {"raced": False}

    def racing_publish(p, v, manifest):
        if not state["raced"]:
            state["raced"] = True
            # the race winner: a constraint lands first at this version
            snapshots.add_table_constraint(spark, path, "v_nonneg", "v >= 0.0")
            raise snapshots.ConcurrentWriteError("lost the publish race")
        return orig_publish(p, v, manifest)

    try:
        snapshots._publish = racing_publish
        with _pytest.raises(
            snapshots.ConcurrentWriteError, match="constraints changed"
        ):
            snapshots.commit_with_retry(
                spark.range(5, 6).selectExpr("id", "CAST(-9.0 AS DOUBLE) AS v"),
                path,
            )
    finally:
        snapshots._publish = orig_publish
    # the winner's constraint survived and still validates a plain retry
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert "v_nonneg" in m.get("constraints", {})
    with _pytest.raises(snapshots.ConstraintViolation):
        snapshots.commit_with_retry(
            spark.range(6, 7).selectExpr("id", "CAST(-9.0 AS DOUBLE) AS v"), path
        )


def test_constraint_reject_is_atomic_and_post_write(spark, tmp_path):
    """ADVICE r10 (low): constraints validate the WRITTEN files (single
    pass over df — Delta enforces during the write); a rejected commit
    leaves no directory behind and the next good commit takes the same
    version number."""
    import os as _os

    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 5).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    )
    snapshots.add_table_constraint(spark, path, "v_nonneg", "v >= 0.0")  # v2
    before = set(_os.listdir(path))
    with _pytest.raises(snapshots.ConstraintViolation):
        snapshots.commit(
            spark.range(5, 7).selectExpr("id", "CAST(-1.0 AS DOUBLE) AS v"), path
        )
    assert set(_os.listdir(path)) == before  # commit dir cleaned up
    assert snapshots.latest_version(path) == 2
    assert snapshots.commit(
        spark.range(5, 7).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    ) == 3
    # renaming a constrained column is rejected up front (the Delta rule:
    # the constraint SQL references the logical name)
    with _pytest.raises(ValueError, match="constraint"):
        snapshots.rename_column(path, "v", "price")


def test_stage_incremental_files_refuses_rename_across_feed(spark, tmp_path):
    """VERDICT r10 #7: a RENAME/DROP inside the fed range means the
    hardlinked raw files carry physical names the consumer's logical schema
    no longer matches — refuse loudly (mirrors the DV guard)."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "feed_state.json")
    snapshots.commit(
        spark.range(0, 4).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    )
    assert len(snapshots.stage_incremental_files(path, staging, state)) >= 1
    snapshots.rename_column(path, "v", "price")
    snapshots.commit(
        spark.range(4, 8).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS price"),
        path,
    )
    with _pytest.raises(ValueError, match="column mapping"):
        snapshots.stage_incremental_files(path, staging, state)
    # initial feed of an already-mapped table refuses for the same reason
    with _pytest.raises(ValueError, match="column mapping"):
        snapshots.stage_incremental_files(
            path, str(tmp_path / "s2"), str(tmp_path / "st2.json")
        )


def test_incremental_rows_refuses_rename_across_range(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 4).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    )  # v1
    snapshots.rename_column(path, "v", "price")  # v2
    snapshots.commit(
        spark.range(4, 8).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS price"),
        path,
    )  # v3
    with _pytest.raises(ValueError, match="column mapping"):
        snapshots.incremental_rows(spark, path, 1, 3)
    # post-rename ranges stay on the fast path
    assert snapshots.incremental_rows(spark, path, 2, 3).count() == 4


def test_change_feed_deltas_bounded_plan_depth(spark, tmp_path, monkeypatch):
    """VERDICT r10 #6: a long-horizon feed (many commits between consumer
    runs) folds through localCheckpoint every _FEED_FOLD_EVERY transitions,
    so the analyzer never sees an O(versions)-leg union; results equal the
    endpoint join feed."""
    monkeypatch.setattr(snapshots, "_FEED_FOLD_EVERY", 8)
    path = str(tmp_path / "t")
    import pandas as pd

    for i in range(40):
        snapshots.commit(
            spark.createDataFrame(pd.DataFrame({"id": [i], "v": [float(i)]})),
            path,
        )
    modes: list = []
    feed = snapshots.change_feed_deltas(spark, path, 1, 40, key="id", modes_out=modes)
    assert modes == ["append"] * 39
    assert feed.count() == 39
    assert feed.agg(F.sum("v")).first()[0] == float(sum(range(1, 40)))
    assert {r["change_type"] for r in feed.select("change_type").distinct().collect()} == {"insert"}


# --- round-11: concurrent DV-writer reconciliation (VERDICT r10 #4) -----------


def _pin_first_latest_version(monkeypatch, pin_v, n_threads=2):
    """Monkeypatch latest_version so each thread's FIRST call returns
    ``pin_v`` (both transactions snapshot the same base version — the race)
    and every later call reads the real log (the rebase)."""
    import threading

    real = snapshots.latest_version
    local = threading.local()
    barrier = threading.Barrier(n_threads)

    def pinned(p):
        if not getattr(local, "pinned", False):
            local.pinned = True
            barrier.wait(timeout=60)
            return pin_v
        return real(p)

    monkeypatch.setattr(snapshots, "latest_version", pinned)
    return real


def test_concurrent_dv_deleters_disjoint_files_both_land(spark, tmp_path, monkeypatch):
    """Two THREADED delete_where_dv transactions vectoring DISJOINT files
    from the same base snapshot: the publish-race loser rebases and merges
    — both land (the benign DV/DV case Delta auto-resolves)."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).coalesce(1), path)    # v1: file A
    snapshots.commit(spark.range(5, 10).coalesce(1), path)   # v2: file B
    _pin_first_latest_version(monkeypatch, 2)
    preds = [F.col("id").isin(0, 1), F.col("id").isin(7, 8)]
    with ThreadPoolExecutor(2) as ex:
        results = list(
            ex.map(lambda pr: snapshots.delete_where_dv(spark, path, pr), preds)
        )
    monkeypatch.undo()
    assert sorted(r["version"] for r in results) == [3, 4]
    assert sorted(r["rows_deleted"] for r in results) == [2, 2]
    assert _ids(snapshots.read_version(spark, path)) == [2, 3, 4, 5, 6, 9]
    m = snapshots.read_manifest(path, 4)
    assert len(m["dv"]) == 2 and sum(e["n"] for e in m["dv"].values()) == 4


def test_concurrent_dv_deleters_same_file_disjoint_positions_union(
    spark, tmp_path, monkeypatch
):
    """Both racers grew the SAME file's vector with non-overlapping
    positions: the rebase unions them (no conflict, no lost delete)."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).coalesce(1), path)  # v1: one file
    _pin_first_latest_version(monkeypatch, 1)
    preds = [F.col("id") == 0, F.col("id") == 4]
    with ThreadPoolExecutor(2) as ex:
        results = list(
            ex.map(lambda pr: snapshots.delete_where_dv(spark, path, pr), preds)
        )
    monkeypatch.undo()
    assert sorted(r["version"] for r in results) == [2, 3]
    assert _ids(snapshots.read_version(spark, path)) == [1, 2, 3]
    m = snapshots.read_manifest(path, 3)
    (entry,) = m["dv"].values()
    assert entry["n"] == 2  # the union vector


def test_concurrent_dv_deleters_overlapping_positions_conflict(
    spark, tmp_path, monkeypatch
):
    """Both racers vectored the SAME row: exactly one lands, the loser
    raises (overlapping row-level writes are never auto-merged)."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).coalesce(1), path)
    _pin_first_latest_version(monkeypatch, 1)

    def run(pred):
        try:
            return ("ok", snapshots.delete_where_dv(spark, path, pred))
        except snapshots.ConcurrentWriteError:
            return ("conflict", None)

    preds = [F.col("id") < 2, F.col("id") < 1]  # both vector row 0
    with ThreadPoolExecutor(2) as ex:
        results = list(ex.map(run, preds))
    monkeypatch.undo()
    assert sorted(r[0] for r in results) == ["conflict", "ok"]
    got = _ids(snapshots.read_version(spark, path))
    assert got in ([2, 3, 4], [1, 2, 3, 4])  # exactly the winner's delete


def test_concurrent_update_dv_and_delete_dv_disjoint_rebase(
    spark, tmp_path, monkeypatch
):
    """A merge-on-read UPDATE racing a DV delete on DISJOINT files: the
    update's post-image files and the delete's vector both survive the
    rebase, whichever side loses the race."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    df = spark.range(0, 10).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v")
    snapshots.commit(df.where("id < 5").coalesce(1), path)   # v1: file A
    snapshots.commit(df.where("id >= 5").coalesce(1), path)  # v2: file B
    _pin_first_latest_version(monkeypatch, 2)

    def upd():
        return snapshots.update_where_dv(
            spark, path, F.col("id") <= 1, {"v": F.col("v") + 100.0}
        )

    def dele():
        return snapshots.delete_where_dv(spark, path, F.col("id").isin(7, 8))

    with ThreadPoolExecutor(2) as ex:
        fu, fd = ex.submit(upd), ex.submit(dele)
        ru, rd = fu.result(), fd.result()
    monkeypatch.undo()
    assert ru["rows_updated"] == 2 and rd["rows_deleted"] == 2
    assert sorted([ru["version"], rd["version"]]) == [3, 4]
    got = {r["id"]: r["v"] for r in snapshots.read_version(spark, path).collect()}
    assert got == {0: 100.0, 1: 101.0, 2: 2.0, 3: 3.0, 4: 4.0,
                   5: 5.0, 6: 6.0, 9: 9.0}


def test_concurrent_dv_updates_same_row_conflict(spark, tmp_path, monkeypatch):
    """Two merge-on-read UPDATEs of the SAME row: one lands, the other
    raises — the lost-update case must never auto-merge."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 5).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v")
        .coalesce(1),
        path,
    )
    _pin_first_latest_version(monkeypatch, 1)

    def run(delta):
        try:
            return ("ok", snapshots.update_where_dv(
                spark, path, F.col("id") == 0, {"v": F.col("v") + delta}
            ))
        except snapshots.ConcurrentWriteError:
            return ("conflict", None)

    with ThreadPoolExecutor(2) as ex:
        results = list(ex.map(run, [100.0, 200.0]))
    monkeypatch.undo()
    assert sorted(r[0] for r in results) == ["conflict", "ok"]
    got = {r["id"]: r["v"] for r in snapshots.read_version(spark, path).collect()}
    assert got[0] in (100.0, 200.0)  # exactly one update applied
    assert len(got) == 5


def test_dv_rebase_refuses_rewritten_file_and_metadata_drift(spark, tmp_path):
    """A DV commit racing (a) a compaction that rewrote its target file or
    (b) a metadata commit (constraint) must surface ConcurrentWriteError —
    positions name rows of a dead file / predicate resolved under stale
    metadata."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 6).selectExpr("id", "CAST(id * 1.0 AS DOUBLE) AS v"), path
    )
    orig_publish = snapshots._publish
    state = {"raced": False}

    def race_with_optimize(p, v, manifest):
        if not state["raced"]:
            state["raced"] = True
            snapshots.optimize(spark, path, target_files=1)  # rewrites all
            raise snapshots.ConcurrentWriteError("lost the race")
        return orig_publish(p, v, manifest)

    try:
        snapshots._publish = race_with_optimize
        with _pytest.raises(snapshots.ConcurrentWriteError, match="rewritten"):
            snapshots.delete_where_dv(spark, path, F.col("id") == 0)
    finally:
        snapshots._publish = orig_publish

    state = {"raced": False}

    def race_with_constraint(p, v, manifest):
        if not state["raced"]:
            state["raced"] = True
            snapshots.add_table_constraint(spark, path, "v_nonneg", "v >= 0.0")
            raise snapshots.ConcurrentWriteError("lost the race")
        return orig_publish(p, v, manifest)

    try:
        snapshots._publish = race_with_constraint
        with _pytest.raises(snapshots.ConcurrentWriteError, match="metadata"):
            snapshots.delete_where_dv(spark, path, F.col("id") == 1)
    finally:
        snapshots._publish = orig_publish
    # the table is intact and a plain retry (fresh snapshot) succeeds
    r = snapshots.delete_where_dv(spark, path, F.col("id") == 1)
    assert r["rows_deleted"] == 1
    assert _ids(snapshots.read_version(spark, path)) == [0, 2, 3, 4, 5]


def test_vacuum_sweeps_orphaned_dv_staging(spark, tmp_path, monkeypatch):
    """Sidecars staged by a publish-race loser under a version directory
    (never referenced by any manifest) are reclaimed when that version
    leaves the keep window."""
    import os as _os

    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 5).coalesce(1), path)  # v1
    _pin_first_latest_version(monkeypatch, 1)
    preds = [F.col("id") == 0, F.col("id") == 4]
    with ThreadPoolExecutor(2) as ex:
        list(ex.map(lambda pr: snapshots.delete_where_dv(spark, path, pr), preds))
    monkeypatch.undo()
    # both racers staged under dv/v000002; only the winner's sidecar (and
    # the rebased union under v000003) are referenced
    dvdir2 = _os.path.join(path, "_snapshots", "dv", "v000002")
    assert len(_os.listdir(dvdir2)) == 2  # winner's + loser's orphan
    snapshots.materialize_dvs(spark, path)  # v4: vectors purged
    snapshots.vacuum(path, keep_last=1)
    assert not _os.path.isdir(dvdir2) or _os.listdir(dvdir2) == []
    assert _ids(snapshots.read_version(spark, path)) == [1, 2, 3]


def test_stage_change_feed_files_feeds_retractions(spark, tmp_path):
    """VERDICT r10 #3 (library half): the change-feed staging writes
    per-transition change ROWS — a DV delete becomes retraction rows in the
    staging dir instead of a raise — stamped with _change_type and
    _commit_version; the state advances atomically and re-advancing with no
    new commits stages nothing."""
    path = str(tmp_path / "t")
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "state.json")
    df = spark.range(0, 10).selectExpr("id", "CAST(id * 2.0 AS DOUBLE) AS v")
    snapshots.commit(df.coalesce(2), path)  # v1
    r1 = snapshots.stage_change_feed_files(spark, path, staging, state, key="id")
    assert (r1["from"], r1["to"], r1["rows"]) == (0, 1, 10)  # initial inserts
    snapshots.delete_where_dv(spark, path, F.col("id") < 3)  # v2
    snapshots.update_where_dv(
        spark, path, F.col("id") >= 8, {"v": F.col("v") + 100.0}
    )  # v3
    r2 = snapshots.stage_change_feed_files(spark, path, staging, state, key="id")
    assert (r2["from"], r2["to"], r2["rows"]) == (1, 3, 7)  # 3 del + 2 pre + 2 post
    # exactly-once staging: a crash-replayed advance (state rewound to the
    # pre-advance value) re-stages ZERO rows — the range dir already exists
    import json as _json

    with open(state, "w") as fh:
        _json.dump({"version": 1}, fh)
    r2b = snapshots.stage_change_feed_files(spark, path, staging, state, key="id")
    assert (r2b["from"], r2b["to"], r2b["rows"]) == (1, 3, 0)
    got = spark.read.option("recursiveFileLookup", "true").parquet(staging)
    assert set(got.columns) == {"id", "v", "_change_type", "_commit_version"}
    by = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in got.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert by == {
        (1, "insert"): 10,
        (2, "delete"): 3,
        (3, "update_preimage"): 2,
        (3, "update_postimage"): 2,
    }
    # signed fold of the staged rows reproduces the live table exactly
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    folded = (
        got.withColumn("__w", w).groupBy("id", "v")
        .agg(F.sum("__w").alias("n")).where(F.col("n") > 0)
    )
    live = snapshots.read_version(spark, path)
    assert sorted(tuple(r) for r in folded.select("id", "v").collect()) == sorted(
        tuple(r) for r in live.select("id", "v").collect()
    )
    # no new commits -> nothing staged
    r3 = snapshots.stage_change_feed_files(spark, path, staging, state, key="id")
    assert r3["rows"] == 0 and r3["from"] == 3


def test_retry_append_carries_deletion_vectors(spark, tmp_path):
    """commit_with_retry on a table with deletion vectors must carry the
    dv map into the manifest it publishes — publishing without it would
    RESURRECT every DV-deleted row on the very next append (r11 fix)."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 10), path)
    snapshots.delete_where_dv(spark, path, F.col("id") < 3)
    v = snapshots.commit_with_retry(spark.range(100, 103), path)
    assert _ids(snapshots.read_version(spark, path, v)) == (
        list(range(3, 10)) + [100, 101, 102]
    )
    assert snapshots.read_manifest(path, v).get("dv")


def test_retry_rewrite_carries_dvs_on_untouched_files(spark, tmp_path):
    """commit_rewrite_with_retry keeps carried-over files' deletion
    vectors; only the files it rewrites shed theirs (the rewrite applied
    them).  Without the carry, a compaction of file B resurrects the rows
    a DV delete removed from file A."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 10).coalesce(1), path)            # file A
    snapshots.commit(spark.range(10, 20).coalesce(1), path)           # file B
    snapshots.delete_where_dv(spark, path, F.col("id") < 3)           # vectors A
    v = snapshots.commit_rewrite_with_retry(
        spark.range(10, 20).coalesce(1), path,
        replace=lambda f: "commit_v000002" in f,                      # rewrite B
    )
    assert _ids(snapshots.read_version(spark, path, v)) == list(range(3, 20))
    m = snapshots.read_manifest(path, v)
    assert any("commit_v000001" in f for f in m.get("dv", {}))


def test_retry_rewrite_conflicts_with_concurrent_dv_delete_on_target(
    spark, tmp_path, monkeypatch
):
    """A DV delete landing on a file THIS rewrite drops, between the
    rewrite's snapshot read and its publish, is a write-after-read
    conflict (Delta's rewrite-vs-delete rule): the replacement rows were
    derived from the old vector, so the rebase must refuse instead of
    silently dropping the delete."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 10).coalesce(1), path)

    orig_publish = snapshots._publish
    state = {"fired": False}

    def inject(p, v, man):
        if p == path and not state["fired"] and man.get("mode") == "replace":
            state["fired"] = True
            monkeypatch.setattr(snapshots, "_publish", orig_publish)
            snapshots.delete_where_dv(spark, path, F.col("id") < 2)
            monkeypatch.setattr(snapshots, "_publish", inject)
            raise snapshots.ConcurrentWriteError("lost race (injected)")
        return orig_publish(p, v, man)

    monkeypatch.setattr(snapshots, "_publish", inject)
    try:
        import pytest

        with pytest.raises(
            snapshots.ConcurrentWriteError, match="deletion vectors changed"
        ):
            snapshots.commit_rewrite_with_retry(
                spark.range(0, 10).coalesce(1), path, replace=lambda f: True
            )
    finally:
        monkeypatch.setattr(snapshots, "_publish", orig_publish)
    # the concurrent delete survived; the rewrite did not land
    assert _ids(snapshots.read_version(spark, path)) == list(range(2, 10))


def _sorted1(df, key="id"):
    return df.repartition(1).sortWithinPartitions(key)


def test_row_tracking_assignment_and_plain_read_hides_ids(spark, tmp_path):
    """enable_row_tracking backfills base ids metadata-only (sorted-file
    order); appends take fresh monotonic ids; plain read_version never
    surfaces the hidden column."""
    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 10)), path)        # v1
    v = snapshots.enable_row_tracking(path)                     # v2
    assert v == 2 and snapshots.read_manifest(path, 2)["row_id_watermark"] == 10
    snapshots.commit(_sorted1(spark.range(100, 105)), path)     # v3
    got = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert got == [(i, i) for i in range(10)] + [(100 + i, 10 + i) for i in range(5)]
    assert "_row_id" not in snapshots.read_version(spark, path).columns


def test_row_tracking_survives_dv_delete_optimize_and_purge(spark, tmp_path):
    """The headline contract: ids are STABLE across DV deletes, z-ordered
    OPTIMIZE (full rewrite, ids materialize into the new files' physical
    column) and REORG PURGE — and the watermark never reuses an id."""
    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 20)), path)
    snapshots.enable_row_tracking(path)
    snapshots.delete_where_dv(spark, path, F.col("id") % 3 == 0)
    before = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    snapshots.optimize(spark, path, target_files=2, zorder_by=["id"])
    after_opt = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert after_opt == before
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m.get("row_id_materialized") and not m.get("base_row_ids")
    assert "_row_id" not in snapshots.read_version(spark, path).columns
    # fresh ids continue past the deleted ids' range: nothing reused
    snapshots.commit(_sorted1(spark.range(100, 102)), path)
    got = dict(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert got[100] == 20 and got[101] == 21
    # purge on a table with DVs (re-delete first to create a vector over
    # the materialized files)
    snapshots.delete_where_dv(spark, path, F.col("id") == 4)
    pre_purge = {k: v for k, v in got.items() if k != 4}
    snapshots.materialize_dvs(spark, path)
    post = dict(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert post == pre_purge


def test_row_tracking_compact_subset_preserves_ids(spark, tmp_path):
    """Partition-scoped compaction (commit_rewrite_with_retry path)
    materializes ids only for the files it rewrites; untouched files stay
    position-derived."""
    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 10)), path)
    snapshots.commit(_sorted1(spark.range(10, 20)), path)
    snapshots.enable_row_tracking(path)
    before = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    st = snapshots.compact_files(
        path=path, spark=spark,
        match_file=lambda f: "commit_v000001" in f, target_files=1,
    )
    assert st["files_compacted"] == 1
    after = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert after == before
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert len(m["row_id_materialized"]) == 1 and len(m["base_row_ids"]) == 1


def test_row_tracking_concurrent_appends_get_disjoint_ranges(spark, tmp_path):
    """Two racing retry-appenders rebase their base ids onto the winner's
    watermark: every id unique, both ranges land."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 4)), path)
    snapshots.enable_row_tracking(path)
    frames = [_sorted1(spark.range(10, 15)), _sorted1(spark.range(20, 27))]
    with ThreadPoolExecutor(2) as ex:
        list(ex.map(lambda d: snapshots.commit_with_retry(d, path), frames))
    rows = snapshots.read_version_row_ids(spark, path).collect()
    ids = sorted(r._row_id for r in rows)
    assert ids == list(range(16))  # 4 + 5 + 7, contiguous, no collision
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m["row_id_watermark"] == 16


def test_row_tracking_clone_rollback_and_time_travel_carry_state(spark, tmp_path):
    """Clones, rollbacks and metadata verbs carry the tracking state; time
    travel reads the ids as of the pinned version."""
    path, dst = str(tmp_path / "t"), str(tmp_path / "c")
    snapshots.commit(_sorted1(spark.range(0, 6)), path)
    snapshots.enable_row_tracking(path)
    snapshots.commit(_sorted1(spark.range(10, 13)), path)       # v3
    snapshots.clone(path, dst)
    got = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, dst).collect()
    )
    assert got == [(i, i) for i in range(6)] + [(10 + i, 6 + i) for i in range(3)]
    snapshots.rollback(path, 2)                                  # v4 == v2 state
    got4 = sorted(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert got4 == [(i, i) for i in range(6)]
    # watermark monotonic even after rollback: new append does not reuse 6-8
    snapshots.commit(_sorted1(spark.range(50, 52)), path)
    got5 = dict(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert got5[50] == 9 and got5[51] == 10


def test_row_tracking_reserved_name_and_feed_guard(spark, tmp_path):
    """The `_row_id` name is reserved (commit and rename reject it) and the
    raw-file stream feed refuses to stage materialized files."""
    import pytest

    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="reserved"):
        snapshots.commit(
            spark.range(3).withColumn("_row_id", F.col("id")), str(tmp_path / "u")
        )
    snapshots.commit(_sorted1(spark.range(0, 4)), path)
    snapshots.enable_row_tracking(path)
    with pytest.raises(ValueError, match="reserved"):
        snapshots.rename_column(path, "id", "_row_id")
    # an EXTERNAL commit carrying _row_id is rejected on every entry point:
    # a round-tripped read_version_row_ids frame would mint duplicate live
    # identities (the files would be marked materialized and the watermark
    # never advances past them) — ADVICE r11
    ext = _sorted1(spark.range(100, 103)).withColumn(
        "_row_id", (F.col("id") - 100 + 4).cast("long")
    )
    for op in (
        lambda: snapshots.commit(ext, path),
        lambda: snapshots.commit_with_retry(ext, path),
        lambda: snapshots.commit_rewrite_with_retry(ext, path, replace=lambda f: False),
    ):
        with pytest.raises(ValueError, match="reserved"):
            op()
    assert snapshots.latest_version(path) == 2  # nothing landed
    # materialized files (from an INTERNAL id-preserving rewrite) still
    # refuse the raw-file stream feed
    snapshots.optimize(spark, path)
    staging = str(tmp_path / "stage")
    state = str(tmp_path / "state.json")
    with pytest.raises(ValueError, match="materialized _row_id"):
        snapshots.stage_incremental_files(path, staging, state)


def test_merge_schema_evolution_both_directions(spark, tmp_path):
    """merge_upsert(allow_schema_evolution=True): a delta with a NEW column
    widens additively (old rows read NULL via read_version_merged); a delta
    MISSING a column fills its own rows with NULL; without the flag both
    raise before any file lands."""
    import pytest

    path = str(tmp_path / "t")
    base = spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS val")
    snapshots.commit(base.repartitionByRange(2, "id"), path)
    wide = spark.range(5, 8).selectExpr(
        "id", "CAST(id * 10 AS DOUBLE) AS val", "'m' AS src"
    )
    with pytest.raises(Exception):
        snapshots.merge_upsert(spark, path, wide, key="id")
    assert snapshots.latest_version(path) == 1  # nothing landed
    st = snapshots.merge_upsert(
        spark, path, wide, key="id", allow_schema_evolution=True
    )
    got = {
        r.id: (r.val, r.src)
        for r in snapshots.read_version_merged(spark, path, st["version"]).collect()
    }
    assert got[5] == (50.0, "m") and got[0] == (0.0, None)
    # narrower delta: missing 'src' fills NULL on its own rows only
    narrow = spark.range(5, 6).selectExpr("id", "CAST(id * 100 AS DOUBLE) AS val")
    with pytest.raises(Exception):
        snapshots.merge_upsert(spark, path, narrow, key="id")
    st2 = snapshots.merge_upsert(
        spark, path, narrow, key="id", allow_schema_evolution=True
    )
    got2 = {
        r.id: (r.val, r.src)
        for r in snapshots.read_version_merged(spark, path, st2["version"]).collect()
    }
    assert got2[5] == (500.0, None) and got2[6] == (60.0, "m")


def test_txn_all_or_nothing_and_roll_forward(spark, tmp_path, monkeypatch):
    """Multi-table transaction: a crash between the two publishes leaves the
    log repairable — committed reads of BOTH tables stay at the pre-txn cut
    (the status file is the single commit point), recover_transactions
    rolls forward, and both tables advance together."""
    import pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.commit(spark.range(0, 5), a)
    snapshots.commit(spark.range(0, 3), b)
    r = snapshots.commit_transaction(
        [(spark.range(10, 13), a), (spark.range(10, 12), b)]
    )
    assert r["versions"] == {a: 2, b: 2}
    orig = snapshots._publish_txn_table
    calls = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls["n"] += 1
        if calls["n"] == 2:
            raise snapshots.ConcurrentWriteError("injected")
        return orig(sp, entry, txn_id, status_path, max_retries)

    monkeypatch.setattr(snapshots, "_publish_txn_table", crash_second)
    with pytest.raises(snapshots.ConcurrentWriteError):
        snapshots.commit_transaction(
            [(spark.range(20, 24), a), (spark.range(20, 22), b)]
        )
    monkeypatch.setattr(snapshots, "_publish_txn_table", orig)
    # a's latest is a pending-txn version; the committed cut excludes it
    assert snapshots.latest_version(a) == 3
    assert snapshots.latest_committed_version(a) == 2
    assert snapshots.read_version_committed(spark, a).count() == 8
    assert snapshots.read_version_committed(spark, b).count() == 5
    out = snapshots.recover_transactions(spark, a, force=True)
    assert list(out.values()) == ["committed"]
    assert snapshots.read_version_committed(spark, a).count() == 12
    assert snapshots.read_version_committed(spark, b).count() == 7
    # recovery is idempotent
    assert snapshots.recover_transactions(spark, a, force=True) == {}


def test_txn_aborts_cleanly_when_nothing_published(spark, tmp_path, monkeypatch):
    """If the FIRST table's publish never lands, the transaction aborts:
    staged dirs deleted, status 'aborted', no version anywhere."""
    import pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.commit(spark.range(0, 5), a)
    snapshots.commit(spark.range(0, 3), b)

    def fail_all(sp, entry, txn_id, status_path, max_retries):
        raise snapshots.ConcurrentWriteError("injected: lost every race")

    monkeypatch.setattr(snapshots, "_publish_txn_table", fail_all)
    with pytest.raises(snapshots.ConcurrentWriteError):
        snapshots.commit_transaction(
            [(spark.range(10, 13), a), (spark.range(10, 12), b)]
        )
    assert snapshots.latest_version(a) == 1 and snapshots.latest_version(b) == 1
    # staged commit dirs swept
    stray = [d for d in os.listdir(a) if d.startswith("commit_") and
             not d.startswith("commit_v")]
    assert stray == []
    assert snapshots.recover_transactions(spark, a) == {}  # nothing pending


def test_txn_stage_time_metadata_drift_guards(spark, tmp_path, monkeypatch):
    """ADVICE r11: the column-map captured at STAGE time must be what
    publish (and recovery) compare against — a rename landing between
    stage and publish aborts cleanly before the intent, and one landing
    between a crash and recovery refuses the roll-forward (the staged
    files were written under the old physical mapping)."""
    import pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.commit(spark.range(0, 5).selectExpr("id", "id*2 AS v"), a)
    snapshots.commit(spark.range(0, 3).selectExpr("id", "id*2 AS v"), b)

    # arm 1: rename lands DURING staging -> the pre-publish recheck aborts
    # with nothing visible and the staged dirs swept
    orig_write = snapshots._write_commit_checked
    calls = {"n": 0}

    def write_then_rename(df, commit_dir, col_map, cons, path):
        orig_write(df, commit_dir, col_map, cons, path)
        calls["n"] += 1
        if calls["n"] == 2:  # after BOTH tables staged under the old map
            snapshots.rename_column(b, "v", "price")

    monkeypatch.setattr(snapshots, "_write_commit_checked", write_then_rename)
    # the recheck surfaces the drift either as an explicit metadata-drift
    # ConcurrentWriteError or as the sharper schema-shadow rejection —
    # both abort with nothing visible
    with pytest.raises(
        (snapshots.ConcurrentWriteError, snapshots.SchemaEnforcementError)
    ):
        snapshots.commit_transaction(
            [(spark.range(10, 12).selectExpr("id", "id*2 AS v"), a),
             (spark.range(10, 11).selectExpr("id", "id*2 AS v"), b)]
        )
    monkeypatch.undo()
    assert snapshots.latest_version(a) == 1  # nothing published anywhere
    stray = [d for d in os.listdir(a) if d.startswith("commit_")
             and not d.startswith("commit_v")]
    assert stray == []  # staged dirs swept
    assert not os.path.isdir(snapshots._txn_dir(a))  # no intent written

    # arm 2: crash after table a published; a rename on b lands BEFORE
    # recovery -> roll-forward must refuse (stage-time map != current)
    orig_pub = snapshots._publish_txn_table
    calls2 = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls2["n"] += 1
        if calls2["n"] == 2:
            raise KeyboardInterrupt  # hard-crash stand-in
        return orig_pub(sp, entry, txn_id, status_path, max_retries)

    monkeypatch.setattr(snapshots, "_publish_txn_table", crash_second)
    try:
        snapshots.commit_transaction(
            [(spark.range(10, 12).selectExpr("id", "id*2 AS price"), b),
             (spark.range(10, 12).selectExpr("id", "id*2 AS v"), a)]
        )
    except KeyboardInterrupt:
        pass
    monkeypatch.undo()
    # drift before recovery: a constraint the staged rows were NEVER
    # validated against lands on the unpublished table — the stage-time
    # constraint set (carried in the status doc) must refuse the publish
    snapshots.add_table_constraint(spark, a, "v_nonneg", "v >= 0")
    with pytest.raises(snapshots.ConcurrentWriteError, match="constraints changed"):
        snapshots.recover_transactions(spark, b, force=True)
    # the wedged txn is recoverable by the OPERATOR abort: b's published
    # txn version is still at head, so rollback_published un-publishes it
    import json as _json

    d = snapshots._txn_dir(b)
    txn_id = [_json.load(open(os.path.join(d, n)))["txn_id"]
              for n in sorted(os.listdir(d)) if n.endswith(".json")][-1]
    with pytest.raises(ValueError, match="rollback_published"):
        snapshots.abort_transaction(spark, b, txn_id)
    out = snapshots.abort_transaction(
        spark, b, txn_id, rollback_published=True
    )
    assert out == "aborted"
    # b reads as if the txn never happened; a's new constraint survives
    assert snapshots.read_version_committed(spark, b).count() == 3
    m_a = snapshots.read_manifest(a, snapshots.latest_version(a))
    assert "v_nonneg" in m_a.get("constraints", {})
    assert snapshots.abort_transaction(spark, b, txn_id) == "already_aborted"


def test_txn_delete_and_rewrite_members(spark, tmp_path, monkeypatch):
    """r12 members: a DV-delete + a rewrite land atomically; the delete
    stages Δ-sized position sets in the intent doc (zero data files
    rewritten), the rewrite stages replacement files; a crash between the
    publishes rolls FORWARD; an abort before any publish leaves both
    tables untouched (no vectors, no files)."""
    import pytest

    facts, der = str(tmp_path / "facts"), str(tmp_path / "der")
    src = spark.range(0, 40).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")
    snapshots.commit(src.repartitionByRange(4, "id"), facts)
    snapshots.commit(
        src.selectExpr("id % 4 AS b", "v").groupBy("b").count(), der
    )
    files_v1 = set(snapshots.read_manifest(facts, 1)["files"])
    kept_der = (
        src.where("id % 5 <> 0").selectExpr("id % 4 AS b", "v")
        .groupBy("b").count()
    )

    # happy path: both members in one txn
    r = snapshots.commit_transaction([
        {"op": "delete_dv", "path": facts, "predicate": F.col("id") % 5 == 0},
        {"op": "rewrite", "path": der, "df": kept_der,
         "replace": lambda f: True},
    ], spark=spark)
    assert set(r["versions"]) == {facts, der}
    got = sorted(r.id for r in snapshots.read_version(spark, facts).collect())
    assert got == [i for i in range(40) if i % 5 != 0]
    m2 = snapshots.read_manifest(facts, r["versions"][facts])
    assert set(m2["files"]) == files_v1  # DV member: zero rewrites
    assert m2.get("txn", {}).get("id") == r["txn_id"]
    der_got = {r.b: r["count"] for r in snapshots.read_version(spark, der).collect()}
    assert der_got == {b: len([i for i in range(40) if i % 4 == b and i % 5]) for b in range(4)}

    # no-op delete member: matches nothing, burns no version
    v_before = snapshots.latest_version(facts)
    r2 = snapshots.commit_transaction([
        {"op": "delete_dv", "path": facts, "predicate": F.col("id") > 999},
        (spark.range(100, 102).selectExpr("id", "CAST(id AS DOUBLE) AS v"), der.replace("der", "other")),
    ], spark=spark)
    assert r2["versions"][facts] == v_before
    assert snapshots.latest_version(facts) == v_before

    # keys-form delete member validation
    with pytest.raises(ValueError, match="key="):
        snapshots.commit_transaction([
            {"op": "delete_dv", "path": facts, "keys": spark.range(3)},
            {"op": "delete_dv", "path": der, "predicate": F.col("b") < 0},
        ], spark=spark)

    # crash with NOTHING published: recovery aborts, no vectors appear
    def fail_all(sp, entry, txn_id, status_path, max_retries):
        raise KeyboardInterrupt

    v_facts, v_der = snapshots.latest_version(facts), snapshots.latest_version(der)
    monkeypatch.setattr(snapshots, "_publish_txn_member", fail_all)
    try:
        snapshots.commit_transaction([
            {"op": "delete_dv", "path": facts, "predicate": F.col("id") % 2 == 0},
            {"op": "rewrite", "path": der, "df": kept_der,
             "replace": lambda f: True},
        ], spark=spark)
    except KeyboardInterrupt:
        pass
    monkeypatch.undo()
    out = snapshots.recover_transactions(spark, facts, force=True)
    assert list(out.values()) == ["aborted"]
    assert snapshots.latest_version(facts) == v_facts
    assert snapshots.latest_version(der) == v_der
    assert sorted(r.id for r in snapshots.read_version(spark, facts).collect()) == got


def test_read_transaction_cut_holds_pre_txn_state(spark, tmp_path, monkeypatch):
    """read_transaction_cut resolves ALL tables at the committed cut: with
    a transaction wedged pending after publishing only its first table,
    the cut excludes the pending version on that table too — a consumer
    sees both tables pre-txn, never half."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.commit(spark.range(0, 5), a)
    snapshots.commit(spark.range(0, 3), b)
    orig = snapshots._publish_txn_member
    calls = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls["n"] += 1
        if calls["n"] == 2:
            raise KeyboardInterrupt
        return orig(sp, entry, txn_id, status_path, max_retries)

    monkeypatch.setattr(snapshots, "_publish_txn_member", crash_second)
    try:
        snapshots.commit_transaction(
            [(spark.range(10, 14), a), (spark.range(10, 12), b)]
        )
    except KeyboardInterrupt:
        pass
    monkeypatch.undo()
    assert snapshots.latest_version(a) == 2  # pending txn version on a
    cut = snapshots.read_transaction_cut(spark, [a, b])
    assert cut[a][0] == 1 and cut[b][0] == 1
    assert cut[a][1].count() == 5 and cut[b][1].count() == 3
    # after roll-forward the same call advances both together
    snapshots.recover_transactions(spark, a, force=True)
    cut2 = snapshots.read_transaction_cut(spark, [a, b])
    assert cut2[a][0] == 2 and cut2[b][0] == 2
    assert cut2[a][1].count() == 9 and cut2[b][1].count() == 5


def test_txn_rewrite_recovery_conservative_conflict(spark, tmp_path, monkeypatch):
    """On crash recovery the rewrite member's predicate callable is gone:
    a file appended to the table AFTER the stage-time snapshot MIGHT match
    the rewrite, so the roll-forward refuses conservatively (the operator
    escape is abort_transaction)."""
    import pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark_df = spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    snapshots.commit(spark_df, a)
    snapshots.commit(spark_df, b)
    orig = snapshots._publish_txn_member
    calls = {"n": 0}

    def crash_second(sp, entry, txn_id, status_path, max_retries):
        calls["n"] += 1
        if calls["n"] == 2:
            raise KeyboardInterrupt
        return orig(sp, entry, txn_id, status_path, max_retries)

    monkeypatch.setattr(snapshots, "_publish_txn_member", crash_second)
    try:
        snapshots.commit_transaction([
            (spark.range(20, 22).selectExpr("id", "CAST(id AS DOUBLE) AS v"), a),
            {"op": "rewrite", "path": b,
             "df": spark_df.where("id < 5"), "replace": lambda f: True},
        ], spark=spark)
    except KeyboardInterrupt:
        pass
    monkeypatch.undo()
    # an independent append lands on b before recovery
    snapshots.commit_with_retry(
        spark.range(50, 53).selectExpr("id", "CAST(id AS DOUBLE) AS v"), b
    )
    with pytest.raises(snapshots.ConcurrentWriteError, match="possibly"):
        snapshots.recover_transactions(spark, a, force=True)
    # the operator aborts: a's published append rolls back (still at head)
    import json as _json

    d = snapshots._txn_dir(a)
    txn_id = [_json.load(open(os.path.join(d, n)))["txn_id"]
              for n in sorted(os.listdir(d)) if n.endswith(".json")][-1]
    assert snapshots.abort_transaction(
        spark, a, txn_id, rollback_published=True
    ) == "aborted"
    assert snapshots.read_version_committed(spark, a).count() == 10
    assert snapshots.read_version(spark, b).count() == 13  # append intact


def test_txn_crash_before_any_publish_recovery_aborts(spark, tmp_path, monkeypatch):
    """A hard crash AFTER the intent landed but BEFORE any publish: recovery
    finds zero published tables and aborts — staged dirs deleted."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.commit(spark.range(0, 5), a)
    snapshots.commit(spark.range(0, 3), b)

    def hard_crash(sp, entry, txn_id, status_path, max_retries):
        raise KeyboardInterrupt  # a kill -9 stand-in: no cleanup runs

    monkeypatch.setattr(snapshots, "_publish_txn_table", hard_crash)
    try:
        snapshots.commit_transaction(
            [(spark.range(10, 13), a), (spark.range(10, 12), b)]
        )
    except KeyboardInterrupt:
        pass
    monkeypatch.undo()
    # without force, the owner-liveness lease skips it (this process IS the
    # recorded owner and is alive)
    out = snapshots.recover_transactions(spark, a)
    assert list(out.values()) == ["skipped_owner_alive"]
    out = snapshots.recover_transactions(spark, a, force=True)
    assert list(out.values()) == ["aborted"]
    assert snapshots.latest_version(a) == 1 and snapshots.latest_version(b) == 1


def test_row_tracking_preserved_through_mor_update(spark, tmp_path):
    """update_where_dv on a tracked table PRESERVES row ids: the post-image
    files materialize the pre-image ids (Delta preserved row tracking), so
    a row keeps its identity across the update and the watermark does not
    grow."""
    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 10).selectExpr(
        "id", "CAST(id AS DOUBLE) AS val")), path)
    snapshots.enable_row_tracking(path)
    before = dict(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    wm0 = snapshots.read_manifest(
        path, snapshots.latest_version(path))["row_id_watermark"]
    st = snapshots.update_where_dv(
        spark, path, F.col("id") % 2 == 0, {"val": F.col("val") + 100}
    )
    assert st["rows_updated"] == 5
    after = {
        r.id: (r._row_id, r.val)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    }
    for k, rid in before.items():
        assert after[k][0] == rid  # identity stable through the update
    assert after[0][1] == 100.0 and after[1][1] == 1.0
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m["row_id_watermark"] == wm0  # no fresh ids minted
    import pytest

    with pytest.raises(ValueError, match="reserved"):
        snapshots.update_where_dv(
            spark, path, F.col("id") == 1, {"_row_id": F.lit(99)}
        )


def test_change_feed_row_ids_lineage_and_noop_rewrites(spark, tmp_path):
    """CDF with row lineage: every change row carries the stable _row_id,
    update pre/post images PAIR by id, an id-preserving OPTIMIZE emits
    ZERO change rows, and a CoW rewrite that re-mints ids raises."""
    import pytest

    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 10).selectExpr(
        "id", "CAST(id AS DOUBLE) AS val")), path)
    snapshots.enable_row_tracking(path)                         # v2
    snapshots.commit(_sorted1(spark.range(100, 104).selectExpr(
        "id", "CAST(id AS DOUBLE) AS val")), path)              # v3
    snapshots.update_where_dv(
        spark, path, F.col("id") % 5 == 0, {"val": F.col("val") * 2}
    )                                                           # v4
    snapshots.delete_where_dv(spark, path, F.col("id") % 3 == 0)  # v5
    snapshots.optimize(spark, path, target_files=1)             # v6: id-preserving
    feed = snapshots.change_feed_row_ids(spark, path, 2, 6)
    rows = [(r.change_type, r._row_id, r.id, r.val, r._commit_version)
            for r in feed.collect()]
    by_type = {}
    for t, rid, k, v, cv in rows:
        by_type.setdefault(t, []).append((rid, k, v, cv))
    assert sorted(by_type["insert"]) == [
        (10 + i, 100 + i, float(100 + i), 3) for i in range(4)
    ]
    pre = {rid: v for rid, k, v, _ in by_type["update_preimage"]}
    post = {rid: v for rid, k, v, _ in by_type["update_postimage"]}
    assert set(pre) == set(post) == {0, 5, 10}
    assert all(post[i] == 2 * pre[i] for i in pre)
    # delete includes the updated-then-deleted row 0 (post-image id, 0 id)
    assert sorted(rid for rid, *_ in by_type["delete"]) == [0, 3, 6, 9, 12]
    # the optimize transition contributed nothing
    assert {cv for *_, cv in rows} == {3, 4, 5}
    # r12: a MERGE is id-preserving — matched keys inherit identity, new
    # keys mint above the watermark, and the by-id feed CROSSES it as a
    # by-identity diff (update pair for the replaced row, insert for the
    # new key, nothing for untouched survivors)
    wm_pre = snapshots.read_manifest(
        path, snapshots.latest_version(path))["row_id_watermark"]
    snapshots.merge_upsert(
        spark, path,
        spark.range(1, 2).selectExpr("id", "CAST(999 AS DOUBLE) AS val")
        .unionByName(spark.range(500, 501).selectExpr(
            "id", "CAST(1.5 AS DOUBLE) AS val")),
        key="id",
    )                                                           # v7
    ids_now = dict(
        (r.id, r._row_id)
        for r in snapshots.read_version_row_ids(spark, path).collect()
    )
    assert ids_now[1] == 1          # matched key kept its identity
    assert ids_now[500] == wm_pre   # new key minted AT the old watermark
    m7 = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m7["row_id_watermark"] == wm_pre + 1  # advanced past the mint
    feed7 = snapshots.change_feed_row_ids(spark, path, 6, 7)
    got7 = sorted(
        (r.change_type, r._row_id, r.id, r.val) for r in feed7.collect()
    )
    assert got7 == [
        ("insert", wm_pre, 500, 1.5),
        ("update_postimage", 1, 1, 999.0),
        ("update_preimage", 1, 1, 1.0),
    ]
    # a CoW DELETE still re-mints (documented) -> the feed refuses past it
    snapshots.delete_where(spark, path, F.col("id") == 2)       # v8
    with pytest.raises(ValueError, match="re-minted or removed"):
        snapshots.change_feed_row_ids(spark, path, 2, 8).count()
    # feed on an untracked table refuses
    path2 = str(tmp_path / "u")
    snapshots.commit(spark.range(3), path2)
    with pytest.raises(ValueError, match="row tracking"):
        snapshots.change_feed_row_ids(spark, path2, 0, 1)


def test_change_feed_row_ids_across_prior_evolution(spark, tmp_path):
    """ADVICE r11: a DV delete whose newly-vectored files STRADDLE an
    additive schema evolution that happened BEFORE the feed window must
    still read pre-images correctly — the raw reader merges footers
    (mergeSchema) instead of sampling one file's physical column set, so
    pre-evolution rows surface with the new column null-filled."""
    path = str(tmp_path / "t")
    snapshots.commit(_sorted1(spark.range(0, 6).selectExpr(
        "id", "CAST(id AS DOUBLE) AS val")), path)              # v1: no 'src'
    snapshots.enable_row_tracking(path)                         # v2
    snapshots.commit(_sorted1(spark.range(100, 104).selectExpr(
        "id", "CAST(id AS DOUBLE) AS val", "'late' AS src")), path)  # v3: +src
    # v4: the delete vectors files on BOTH sides of the evolution
    snapshots.delete_where_dv(
        spark, path, (F.col("id") == 2) | (F.col("id") == 101)
    )
    feed = snapshots.change_feed_row_ids(spark, path, 3, 4)
    rows = sorted(
        (r.change_type, r.id, r.src) for r in feed.collect()
    )
    assert rows == [("delete", 2, None), ("delete", 101, "late")]


def test_read_version_where_composes_all_cuts(spark, tmp_path):
    """The unified planner intersects range + null-count + bloom cuts in
    one pass, attributes each dropped file to the first rejecting atom,
    applies the implied NOT-NULL cut inside range/eq atoms, keeps files
    conservatively when stats are missing, and resolves logical names
    through the column map."""
    import pytest

    path = str(tmp_path / "t")
    # 3 files: ids 0-9 (note='x', tag='a'), 10-19 (note all-NULL, tag='b'),
    # 20-29 (note='x', tag='c')
    for lo, note, tag in ((0, "x", "a"), (10, None, "b"), (20, "x", "c")):
        note_sql = "CAST(NULL AS STRING)" if note is None else repr(note)
        df = spark.range(lo, lo + 10).selectExpr(
            "id", f"{note_sql} AS note", f"'{tag}' AS tag",
        )
        snapshots.commit(
            df.coalesce(1), path,
            stats_cols=["id", "note"] if lo == 0 else None,
            bloom_cols=["tag"] if lo == 0 else None,
        )
    # range alone keeps files 2+3; + not_null cuts the all-null file
    _, i = snapshots.read_version_where(spark, path, [
        {"col": "id", "op": "between", "lo": 10, "hi": 29},
        {"col": "note", "op": "not_null"},
    ])
    assert (i["files_total"], i["files_scanned"]) == (3, 1)
    assert sorted(i["cut_by"].values()) == [1, 1]  # one file per atom
    # eq atom: range + bloom + implied not-null in one atom
    df, i2 = snapshots.read_version_where(spark, path, [
        {"col": "tag", "op": "eq", "value": "c"},
        {"col": "note", "op": "not_null"},
    ])
    assert i2["files_scanned"] == 1
    assert sorted(r.id for r in df.where("tag = 'c'").collect()) == list(range(20, 30))
    # a BETWEEN on the all-null column drops the all-null file (implied
    # NOT NULL) even though it records no range at all
    _, i3 = snapshots.read_version_where(spark, path, [
        {"col": "note", "op": "between", "lo": "a", "hi": "z"},
    ])
    assert i3["files_scanned"] == 2
    # is_null keeps only files that can hold a null
    _, i4 = snapshots.read_version_where(spark, path, [
        {"col": "note", "op": "is_null"},
    ])
    assert i4["files_scanned"] == 1
    # unknown op refuses; missing stats keep conservatively
    with pytest.raises(ValueError, match="unknown atom"):
        snapshots.read_version_where(spark, path, [{"col": "id", "op": "lt"}])
    _, i5 = snapshots.read_version_where(spark, path, [
        {"col": "tag", "op": "between", "lo": "zz", "hi": "zz"},  # no stats on tag
    ])
    assert i5["files_scanned"] == 3
    # column map: rename id -> key, the planner resolves the logical name
    snapshots.rename_column(path, "id", "key")
    _, i6 = snapshots.read_version_where(spark, path, [
        {"col": "key", "op": "between", "lo": 0, "hi": 9},
    ])
    assert i6["files_scanned"] == 1


def test_null_count_stats_and_pruning(spark, tmp_path):
    """NULL-COUNT skipping (Delta nullCount): stats entries widen to
    [min, max, null_count, file_rows]; an all-null file records
    [None, None, n, n] (it has NO min/max, so range pruning must keep it);
    read_version_null_pruned cuts the file list exactly and never a row."""
    path = str(tmp_path / "t")
    null_s = F.lit(None).cast("string")
    all_null = spark.range(0, 100).select("id", null_s.alias("tag"))
    no_null = spark.range(100, 200).select(
        "id", F.concat(F.lit("k"), F.col("id")).alias("tag")
    )
    mixed = spark.range(200, 300).select(
        "id",
        F.when(F.col("id") % 5 == 0, null_s)
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("tag"),
    )
    for g in (all_null, no_null, mixed):
        snapshots.commit(g.coalesce(1), path, stats_cols=["tag", "id"])
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    by_min = sorted(m["files"], key=lambda f: m["stats"][f]["id"][0])
    s_allnull = m["stats"][by_min[0]]["tag"]
    s_nonull = m["stats"][by_min[1]]["tag"]
    s_mixed = m["stats"][by_min[2]]["tag"]
    assert s_allnull == [None, None, 100, 100]
    assert s_nonull[2:] == [0, 100] and s_nonull[0] is not None
    assert s_mixed[2:] == [20, 100]

    df, info = snapshots.read_version_null_pruned(spark, path, "tag", want_null=True)
    assert (info["files_total"], info["files_scanned"]) == (3, 2)
    assert df.where(F.col("tag").isNull()).count() == 120
    df, info = snapshots.read_version_null_pruned(spark, path, "tag", want_null=False)
    assert (info["files_total"], info["files_scanned"]) == (3, 2)
    assert df.where(F.col("tag").isNotNull()).count() == 180
    # range pruning: the all-null file has no range, conservatively kept
    df, info = snapshots.read_version_pruned(spark, path, "tag", lo="z")
    assert info["files_scanned"] == 1  # only the rangeless all-null file
    assert df.where(F.col("tag") >= "z").count() == 0
    # int column coexists: range pruning on id still exact over widened entries
    df, info = snapshots.read_version_pruned(spark, path, "id", hi=50)
    assert info["files_scanned"] == 1
    assert df.where(F.col("id") <= 50).count() == 51


def test_null_pruning_conservative_without_stats(spark, tmp_path):
    """Files without a recorded null count are KEPT by both null-pruned
    directions (the no-stats conservative fallback), and a later commit
    WITHOUT stats_cols maintains the null index for its new file."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 50).coalesce(1), path)  # no stats at all
    _, info = snapshots.read_version_null_pruned(spark, path, "id", want_null=True)
    assert (info["files_total"], info["files_scanned"]) == (1, 1)

    path2 = str(tmp_path / "t2")
    null_s = F.lit(None).cast("string")
    snapshots.commit(
        spark.range(0, 50).select("id", null_s.alias("tag")).coalesce(1),
        path2,
        stats_cols=["tag"],
    )
    # maintenance: no stats_cols on the second commit, index re-collected
    snapshots.commit(
        spark.range(50, 90)
        .select("id", F.concat(F.lit("k"), F.col("id")).alias("tag"))
        .coalesce(1),
        path2,
    )
    df, info = snapshots.read_version_null_pruned(spark, path2, "tag", want_null=True)
    assert (info["files_total"], info["files_scanned"]) == (2, 1)
    assert df.where(F.col("tag").isNull()).count() == 50
    df, info = snapshots.read_version_null_pruned(spark, path2, "tag", want_null=False)
    assert (info["files_total"], info["files_scanned"]) == (2, 1)
    assert df.where(F.col("tag").isNotNull()).count() == 40


def test_latest_version_pointer_is_hint_not_truth(spark, tmp_path):
    """The O(1) `_latest` pointer (Delta _last_checkpoint discipline):
    publishes keep it current; a STALE pointer costs upward probes, a
    corrupt/missing/ahead pointer falls back to the listing — never a
    wrong answer."""
    import json as _json

    path = str(tmp_path / "t")
    for i in range(3):
        snapshots.commit(spark.range(i * 10, i * 10 + 5), path)
    ptr = snapshots._latest_pointer(path)
    assert _json.load(open(ptr))["version"] == 3
    assert snapshots.latest_version(path) == 3
    # stale pointer (crash between manifest create and pointer write)
    with open(ptr, "w") as f:
        _json.dump({"version": 1}, f)
    assert snapshots.latest_version(path) == 3  # probed upward
    # corrupt pointer
    with open(ptr, "w") as f:
        f.write("not json")
    assert snapshots.latest_version(path) == 3  # listing fallback
    # pointer ahead of reality (manifest missing) -> fallback, not a lie
    with open(ptr, "w") as f:
        _json.dump({"version": 99}, f)
    assert snapshots.latest_version(path) == 3
    # missing pointer (pre-r12 table)
    os.unlink(ptr)
    assert snapshots.latest_version(path) == 3
    # next publish restores it
    snapshots.commit(spark.range(100, 102), path)
    assert _json.load(open(ptr))["version"] == 4
    assert snapshots.latest_version(path) == 4


# ---------------------------------------------------------------------------
# Planning a manifest-pinned read starts no Spark job
# ---------------------------------------------------------------------------

_PLAN_FILES = 48  # above Spark's default parallel-listing threshold of 32


def _jobs_started(spark, build) -> int:
    """Spark jobs started while ``build()`` returns a frame (no action)."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _plan_table(spark, path):
    df = spark.range(0, _PLAN_FILES * 10).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("s"), (F.col("id") % 50).cast("string")).alias("sym"),
    )
    snapshots.commit(
        df.repartitionByRange(_PLAN_FILES, "id"), path,
        stats_cols=["id"], bloom_cols=["sym"],
    )
    assert len(snapshots.read_manifest(path, 1)["files"]) == _PLAN_FILES


def test_manifest_reads_plan_without_spark_jobs(spark, tmp_path):
    """Neither the file listing (48 paths > the parallel-listing threshold
    Spark ships with) nor the schema (read from one footer on the driver)
    costs a job: the first job of a snapshot read is the caller's action —
    with and without deletion vectors on the scanned files."""
    import time

    path = str(tmp_path / "t")
    _plan_table(spark, path)
    readers = {
        "read_version": lambda: snapshots.read_version(spark, path),
        "read_version_where": lambda: snapshots.read_version_where(
            spark, path, [{"col": "id", "op": "between", "lo": 0, "hi": 400},
                          {"col": "sym", "op": "eq", "value": "s3"}]),
        "read_version_point": lambda: snapshots.read_version_point(
            spark, path, "sym", "s3"),
        "read_version_pruned": lambda: snapshots.read_version_pruned(
            spark, path, "id", lo=0, hi=400),
        "read_version_asof": lambda: snapshots.read_version_asof(
            spark, path, time.time()),
    }
    for with_dv in (False, True):
        if with_dv:
            snapshots.delete_where_dv(spark, path, F.col("grp") == 3)
            assert snapshots.read_manifest(path, 2)["dv"]
        jobs = {name: _jobs_started(spark, build) for name, build in readers.items()}
        assert jobs == {name: 0 for name in readers}, (with_dv, jobs)
    # the frames are live: the action is where the work happens
    assert snapshots.read_version(spark, path).count() == _PLAN_FILES * 10 - sum(
        1 for i in range(_PLAN_FILES * 10) if i % 7 == 3
    )


def _same_read(monkeypatch, read):
    """``read()`` with the footer schema equals ``read()`` with Spark's own
    inference (the helper forced onto its fallback): schema and rows."""
    fast = read()
    with monkeypatch.context() as mp:
        mp.setattr(snapshots, "_footer_spark_schema", lambda files: None)
        inferred = read()
    assert fast.schema == inferred.schema
    assert _rows(fast) == _rows(inferred)
    return fast


def _same_raw(spark, path):
    """The raw helper equals a plain spark.read.parquet of the same files."""
    files = snapshots.read_manifest(path, snapshots.latest_version(path))["files"]
    assert snapshots._footer_spark_schema(files) is not None  # Spark-written
    got = snapshots._read_parquet_files(spark, files)
    plain = spark.read.parquet(*files)
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain)


def test_footer_schema_read_matches_inference_additive_evolution(
    spark, tmp_path, monkeypatch
):
    """The oldest files lack the added column, and they sort first — so
    Spark's sampled footer (and the footer the helper reads) is theirs."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 40).select("id").repartition(4), path)
    snapshots.commit(
        spark.range(40, 60).select("id", F.lit("x").alias("tag")), path
    )
    _same_raw(spark, path)
    got = _same_read(monkeypatch, lambda: snapshots.read_version(spark, path))
    assert got.columns == ["id"]
    merged = snapshots.read_version_merged(spark, path)
    assert merged.columns == ["id", "tag"] and merged.count() == 60


def test_footer_schema_read_matches_inference_rename_and_drop(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    snapshots.commit(
        spark.range(0, 40).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v",
                                      "id % 3 AS g").repartition(4), path,
    )
    snapshots.rename_column(path, "v", "val")
    snapshots.drop_column(path, "g")
    _same_raw(spark, path)
    got = _same_read(monkeypatch, lambda: snapshots.read_version(spark, path))
    assert got.columns == ["id", "val"]
    # the pre-rename version still reads its own logical names
    old = _same_read(monkeypatch, lambda: snapshots.read_version(spark, path, 1))
    assert old.columns == ["id", "v", "g"]


def test_footer_schema_read_matches_inference_row_tracked(
    spark, tmp_path, monkeypatch
):
    """Row ids: position-derived files and files carrying the physical
    ``_row_id`` column (written by an id-preserving OPTIMIZE) in one read."""
    path = str(tmp_path / "t")
    snapshots.commit(spark.range(0, 40).repartition(4), path)
    snapshots.enable_row_tracking(path)
    snapshots.optimize(spark, path, target_files=2)
    snapshots.commit(spark.range(40, 50), path)
    m = snapshots.read_manifest(path, snapshots.latest_version(path))
    assert m.get("row_id_materialized") and m.get("base_row_ids")
    got = _same_read(
        monkeypatch, lambda: snapshots.read_version_row_ids(spark, path)
    )
    assert got.count() == 50 and "_row_id" in got.columns
    _same_read(monkeypatch, lambda: snapshots.read_version(spark, path))


def test_footer_schema_read_matches_inference_with_dvs(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    _plan_table(spark, path)
    snapshots.delete_where_dv(spark, path, F.col("grp") == 3)
    _same_raw(spark, path)
    got = _same_read(monkeypatch, lambda: snapshots.read_version(spark, path))
    assert got.where(F.col("grp") == 3).count() == 0
    _same_read(
        monkeypatch,
        lambda: snapshots.read_version_where(
            spark, path, [{"col": "id", "op": "between", "lo": 0, "hi": 100}]
        )[0],
    )


def test_footer_without_spark_schema_falls_back_to_inference(spark, tmp_path):
    """A file no Spark writer produced carries no Spark row metadata: the
    helper lets Spark infer, and the read equals a plain read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "arrow"
    d.mkdir()
    files = []
    for i in range(3):
        f = str(d / f"part-{i}.parquet")
        pq.write_table(
            pa.table({"id": pa.array([i * 10 + j for j in range(10)], pa.int64()),
                      "name": [f"n{i}{j}" for j in range(10)]}),
            f,
        )
        files.append(f)
    assert snapshots._footer_spark_schema(files) is None
    got = snapshots._read_parquet_files(spark, files)
    plain = spark.read.parquet(*files)
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain)
