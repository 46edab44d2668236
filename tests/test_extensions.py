"""Unit tests for the scale-tier extension operators: connected components
(near-dup clustering), KMV distinct sketch, deterministic hash splitting,
weighted/stratified sampling, TF-IDF / BM25 retrieval scoring."""

import math

from pyspark.sql import Row, functions as F

from us_equity_datalake_spark.operators import (
    components,
    expectations,
    retrieval,
    sampling,
    sketch,
    zorder,
)


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3 (transitive: 1~3 never scored) + island 10-11 + self-contained 20-21-22 triangle
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # both regimes must agree: driver union-find (default for tiny graphs)
    # and distributed label propagation (local_threshold=0 forces it)
    for thr in (2_000_000, 0):
        got = {
            r["node"]: r["component"]
            for r in components.connected_components(edges, local_threshold=thr).collect()
        }
        assert got == expected, f"local_threshold={thr}"


def test_connected_components_long_chain_converges(spark):
    # path graph 0-1-2-...-9: worst-case diameter for label propagation;
    # forced onto the distributed path to exercise the iteration loop
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    cc = components.connected_components(edges, local_threshold=0)
    assert cc.select("component").distinct().count() == 1
    assert cc.agg(F.min("component")).first()[0] == 0


def test_two_phase_components_agree_with_union_find(spark):
    """large-star/small-star must produce exactly the propagation/union-find
    labels on every regime: long path (worst case for propagation), triangle
    + islands, and randomized graphs."""
    import random

    cases = [
        [(i, i + 1) for i in range(30)],              # 31-node path
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        [(5, 5)],                                      # self-loop only
    ]
    rng = random.Random(7)
    for _ in range(3):
        n = rng.randint(5, 40)
        cases.append([(rng.randint(0, n), rng.randint(0, n)) for _ in range(n)])
    for i, es in enumerate(cases):
        edges = spark.createDataFrame(es, "src long, dst long")
        want = {
            r["node"]: r["component"]
            for r in components.connected_components(edges).collect()
        }
        got = {
            r["node"]: r["component"]
            for r in components.connected_components(
                edges, algorithm="two_phase"
            ).collect()
        }
        assert got == want, f"case {i}"


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame([Row(g="a", k=i % 10) for i in range(100)])
    out = sketch.kmv_distinct(df, "k", by=["g"], k=64).collect()
    assert out[0]["exact_distinct"] == 10
    assert out[0]["est_distinct"] == 10.0  # sketch holds all hashes => exact


def test_kmv_estimate_within_error(spark):
    n = 5000
    df = spark.createDataFrame([Row(g="a", k=i) for i in range(n)])
    out = sketch.kmv_distinct(df, "k", by=["g"], k=256).collect()[0]
    assert out["exact_distinct"] == n
    # error ~ 1/sqrt(k) ≈ 6%; allow 4 sigma
    assert abs(out["est_distinct"] - n) / n < 0.25


def test_pagerank_matches_numpy_power_iteration(spark):
    """3 fixed rounds on a small symmetric graph must match an independent
    numpy power iteration (same uniform init, same damping blend) to float
    tolerance, and total rank mass stays ~1 (no dangling nodes)."""
    import numpy as np

    edges_d = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    sym = edges_d + [(b, a) for a, b in edges_d]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r["node"]: (r["outdeg"], r["pr"]) for r in components.pagerank(df, iters=3).collect()}

    n = 4
    A = np.zeros((n, n))
    for a, b in sym:
        A[b, a] = 1.0  # column-stochastic after normalization
    deg = A.sum(axis=0)
    M = A / deg
    pr = np.full(n, 1.0 / n)
    for _ in range(3):
        pr = (1 - 0.85) / n + 0.85 * (M @ pr)
    for node in range(n):
        assert got[node][0] == int(deg[node])
        assert abs(got[node][1] - pr[node]) < 1e-9, node
    assert abs(sum(v for _, v in got.values()) - 1.0) < 1e-6


def test_pagerank_zero_indegree_node_keeps_mass(spark):
    """A DIRECTED graph where node 0 has out-edges but NO in-edges: node 0
    must stay in the rank vector at the base rank (1-d)/n every round and
    keep pushing its mass downstream — the pre-fix bare groupBy over
    received contributions dropped it after round 1, silently deleting its
    outgoing mass and omitting it from the output."""
    import numpy as np

    # 0 -> 1, 0 -> 2, 1 -> 2, 2 -> 1  (0 has in-degree 0; 1,2 cycle)
    edges_d = [(0, 1), (0, 2), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges_d, "src long, dst long")
    got = {r["node"]: (r["outdeg"], r["pr"])
           for r in components.pagerank(df, iters=3).collect()}
    assert set(got) == {0, 1, 2}           # node 0 present in the output

    n, d = 3, 0.85
    A = np.zeros((n, n))
    for a, b in edges_d:
        A[b, a] = 1.0
    M = A / A.sum(axis=0)
    pr = np.full(n, 1.0 / n)
    for _ in range(3):
        pr = (1 - d) / n + d * (M @ pr)
    for node in range(n):
        assert abs(got[node][1] - pr[node]) < 1e-9, node
    assert abs(got[0][1] - (1 - d) / n) < 1e-9  # zero in-degree => base rank


def test_pagerank_sql_twin_zero_indegree_parity(spark):
    """The unrolled SQL oracle must reproduce the Spark ranks bit-for-bit on
    the zero-in-degree graph (both sides re-anchor on the full node set)."""
    import duckdb

    # node 3 has out-degree 1 and in-degree 0
    edges_d = [(0, 1), (0, 2), (1, 2), (2, 1), (3, 0)]
    df = spark.createDataFrame(edges_d, "src long, dst long")
    got = {r["node"]: r["pr"] for r in components.pagerank(df, iters=3).collect()}

    vals = ", ".join(f"({a}, {b})" for a, b in edges_d)
    sql = components.pagerank_sql(
        f"edges(src, dst) AS (SELECT * FROM (VALUES {vals}) t(src, dst))",
        iters=3,
    )
    want = {int(n): p for n, _, p in duckdb.sql(sql).fetchall()}
    assert got == want                      # exact equality, not tolerance


def test_components_raise_on_exhaustion(spark):
    """Exiting the iteration loop without a fixpoint must raise, not return
    silently non-minimal labels — both the propagation and two-phase paths."""
    import pytest as _pytest

    # 12-node path needs ~O(diameter) propagation rounds; max_iter=2 starves it
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        components.connected_components(edges, local_threshold=0, max_iter=2)
    with _pytest.raises(RuntimeError, match="no star-forest fixpoint"):
        components.connected_components(
            edges, algorithm="two_phase", max_iter=1
        )


def test_theta_exhaustive_small_sets_exact(spark):
    # both slices below k: theta = full hash space, every estimate is exact
    a = spark.createDataFrame([Row(k=i) for i in range(30)])
    b = spark.createDataFrame([Row(k=i) for i in range(20, 50)])
    row = sketch.theta_set_report(a, b, "k", k=256).collect()[0]
    assert row["theta"] == (1 << 60)
    assert row["exact_intersection"] == 10 and row["exact_union"] == 50
    assert row["est_intersection"] == 10.0
    assert row["est_union"] == 50.0
    assert abs(row["jaccard_est"] - 10 / 50) < 1e-9


def test_theta_disjoint_sets(spark):
    a = spark.createDataFrame([Row(k=i) for i in range(40)])
    b = spark.createDataFrame([Row(k=i) for i in range(1000, 1040)])
    row = sketch.theta_set_report(a, b, "k", k=64).collect()[0]
    assert row["est_intersection"] == 0.0 and row["exact_intersection"] == 0
    assert row["jaccard_est"] == 0.0
    assert row["est_union"] == 80.0  # exhaustive sketches => exact union


def test_theta_estimate_within_error(spark):
    # 4000 vs 4000 keys with 2000 overlap; k=256 => sigma ~ 1/sqrt(k) ~ 6%
    a = spark.createDataFrame([Row(k=i) for i in range(4000)])
    b = spark.createDataFrame([Row(k=i) for i in range(2000, 6000)])
    row = sketch.theta_set_report(a, b, "k", k=256).collect()[0]
    assert row["theta"] < (1 << 60)  # genuinely sampling
    assert row["exact_intersection"] == 2000 and row["exact_union"] == 6000
    assert abs(row["est_intersection"] - 2000) / 2000 < 0.35
    assert abs(row["est_union"] - 6000) / 6000 < 0.25
    assert abs(row["jaccard_est"] - 2000 / 6000) < 0.12
    # duplicate rows must not move the sketch (it samples DISTINCT keys)
    a_dup = a.union(a).union(a)
    row2 = sketch.theta_set_report(a_dup, b, "k", k=256).collect()[0]
    assert row2["est_intersection"] == row["est_intersection"]
    assert row2["est_union"] == row["est_union"]


def test_theta_merge_identity(spark):
    """Bottom-k merge must reproduce the direct sketch EXACTLY — same sample
    hashes, same theta — on adversarial splits: overlapping slices, an
    exhaustive (< k distinct) slice mixed with a large one, and a 3-way
    split; verified row-for-row, not just on summary stats."""
    def sketch_of(vals, k):
        df = spark.createDataFrame([(v,) for v in vals], "k long")
        return sketch.kmv_theta_sample(df, "k", k=k)

    cases = [
        ([list(range(500)), list(range(300, 900))], 64),       # overlap
        ([list(range(10)), list(range(5, 800))], 64),          # exhaustive + big
        ([list(range(0, 900, 3)), list(range(1, 900, 3)), list(range(2, 900, 3))], 128),
    ]
    for i, (slices, k) in enumerate(cases):
        samples = None
        for vals in slices:
            sk = sketch_of(vals, k)
            samples = sk if samples is None else samples.unionByName(sk)
        merged = sorted(map(tuple, sketch.kmv_theta_merge(samples, k=k).collect()))
        direct = sorted(map(tuple, sketch_of(sorted(set(sum(slices, []))), k).collect()))
        assert merged == direct, f"case {i}"


def test_hash_split_deterministic_and_total(spark):
    df = spark.createDataFrame([Row(doc_id=i) for i in range(1000)])
    a = {r["doc_id"]: r["split"] for r in sampling.hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in sampling.hash_split(df, "doc_id").collect()}
    assert a == b  # pure function of the id
    counts = {s: list(a.values()).count(s) for s in ("train", "valid", "test")}
    assert sum(counts.values()) == 1000
    assert 700 < counts["train"] < 900  # ~80% ± hash noise
    assert counts["valid"] > 0 and counts["test"] > 0


def test_hash_split_stable_under_row_removal(spark):
    full = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    half = full.filter(F.col("doc_id") % 2 == 0)
    a = {r["doc_id"]: r["split"] for r in sampling.hash_split(full, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in sampling.hash_split(half, "doc_id").collect()}
    assert all(a[i] == b[i] for i in b)  # membership never moves


def test_weighted_sample_favors_heavy_rows(spark):
    # weights 1 vs 1000: heavy rows should dominate the top-k sample
    rows = [Row(doc_id=i, w=1000 if i < 100 else 1) for i in range(1000)]
    got = sampling.weighted_sample(spark.createDataFrame(rows), "doc_id", "w", k=50).collect()
    assert len(got) == 50
    heavy = sum(1 for r in got if r["doc_id"] < 100)
    assert heavy > 40  # ~all of the sample comes from the 10% heavy stratum
    # priority is a non-negative exact integer (bigint column, no float drift)
    assert all(isinstance(r["priority"], int) and r["priority"] >= 0 for r in got)


def test_stratified_sample_exact_allocation(spark):
    rows = [Row(doc_id=i, lang="en" if i % 10 else "fr") for i in range(300)]
    # en: 270 rows, fr: 30 rows; k=25 → en capped at 25, fr takes all... fr has 30 >= 25 → 25
    out = sampling.stratified_sample(spark.createDataFrame(rows), "doc_id", ["lang"], k=25)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 25, "fr": 25}
    # deterministic: same selection twice
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in sampling.stratified_sample(
        spark.createDataFrame(rows), "doc_id", ["lang"], k=25).collect())
    assert a == b


def test_tfidf_matches_hand_computation(spark):
    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog fish"), (3, "fish fish bird")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["term"]): (r["tf"], r["tfidf"]) for r in retrieval.tfidf(docs).collect()}
    assert got[(1, "cat")] == (2, round(2 * math.log(3 / 1), 6))  # cat only in doc 1
    assert got[(2, "dog")] == (1, round(math.log(3 / 2), 6))
    assert got[(3, "fish")][0] == 2


def test_bm25_rare_term_dominates(spark):
    # 'rare' appears once; 'common' in every doc — BM25 must rank doc 1 first
    docs = spark.createDataFrame(
        [(1, "rare common common"), (2, "common common common"), (3, "common other words")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in retrieval.bm25(docs, ["rare", "common"]).collect()}
    assert got[1] > got[2] and got[1] > got[3]


def test_containing_all_is_conjunctive(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a c b extra")], "doc_id long, text string"
    )
    ids = sorted(r["doc_id"] for r in retrieval.containing_all(docs, ["a", "b", "c"]).collect())
    assert ids == [1, 3]


def test_z_value_interleaves_bits(spark):
    # x=0b11, y=0b01 → z bits: pos0=x0=1, pos1=y0=1, pos2=x1=1, pos3=y1=0 → 0b0111
    df = spark.createDataFrame([Row(x=3, y=1)])
    z = df.select(zorder.z_value([F.col("x"), F.col("y")], bits=2).alias("z")).first()["z"]
    assert z == 0b0111
    # locality: nearby points share high bits; distant points don't
    pts = spark.createDataFrame([Row(x=i, y=j) for i in (0, 1, 255) for j in (0, 1, 255)])
    zs = {(r["x"], r["y"]): r["z"] for r in pts.select(
        "x", "y", zorder.z_value([F.col("x"), F.col("y")], bits=8).alias("z")).collect()}
    assert abs(zs[(0, 0)] - zs[(1, 1)]) < abs(zs[(0, 0)] - zs[(255, 255)])


def test_expectations_audit_counts_violations(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=-5, b="y"), Row(a=None, b="x"), Row(a=10, b="z")]
    )
    out = {r["check"]: r for r in expectations.audit(df, {
        "a_positive": F.col("a") > 0,
        "b_domain": F.col("b").isin("x", "y"),
    }).collect()}
    # null a counts as violation (unknown != pass)
    assert out["a_positive"]["n_violations"] == 2
    assert out["b_domain"]["n_violations"] == 1
    assert out["a_positive"]["n_rows"] == 4
    assert abs(out["a_positive"]["violation_rate"] - 0.5) < 1e-9


# ---------------------------------------------------------------------------
# PII scrubbing (functions.text.redact_pii / pii_counts) — real-PII goldens
# (the oracle query exercises only the synthetic fixture suffix)
# ---------------------------------------------------------------------------

def test_redact_pii_goldens(spark):
    from pyspark.sql import Row, functions as F
    from us_equity_datalake_spark.functions.text import pii_counts, redact_pii

    rows = [
        Row(id=1, t="reach me at jane.doe+spam@corp-mail.co.uk or (415) 555-0199 ssn 078-05-1120"),
        Row(id=2, t="no pii here at all"),
        Row(id=3, t="two mails: a@b.io c@d.org"),
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        "id",
        redact_pii(F.col("t")).alias("red"),
        *[v.alias(f"n_{k}") for k, v in pii_counts(F.col("t")).items()],
    )
    got = {r.id: r for r in out.collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1 and got[1].n_ssn == 1
    assert "[EMAIL]" in got[1].red and "[PHONE]" in got[1].red and "[SSN]" in got[1].red
    assert "jane" not in got[1].red and "078-05" not in got[1].red
    assert got[2].red == "no pii here at all"
    assert got[3].n_email == 2 and got[3].red.count("[EMAIL]") == 2


def test_cohort_retention_plan_has_no_broadcast(spark):
    """VERDICT r2 'What's wrong' #2: the per-user cohorts side is
    fact-cardinality and must never be a BroadcastExchange; the window-MIN
    formulation has no join at all — assert no broadcast and that the
    distinct reuses the user_id window partitioning (≤2 exchanges)."""
    from us_equity_datalake_spark.plans import REGISTRY

    df = REGISTRY["cohort_retention"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert df.count() > 0


def test_scd2_apply_rules_and_idempotence(spark):
    """SCD2 merge: changed attr -> close + reopen; identical change -> no-op;
    new key -> fresh current row; history untouched; re-applying the same
    change set to the merged result is a no-op."""
    import datetime as dt

    from pyspark.sql import Row

    from us_equity_datalake_spark.operators.scd import scd2_apply

    d = dt.date
    dim = spark.createDataFrame(
        [
            Row(k=1, seg="A", start_date=d(2020, 1, 1), end_date=None),      # will change
            Row(k=2, seg="B", start_date=d(2020, 1, 1), end_date=None),      # identical change
            Row(k=3, seg="C", start_date=d(2020, 1, 1), end_date=None),      # no change row
            Row(k=1, seg="OLD", start_date=d(2010, 1, 1), end_date=d(2019, 12, 31)),  # history
        ],
        "k long, seg string, start_date date, end_date date",
    )
    changes = spark.createDataFrame(
        [Row(k=1, seg="A2"), Row(k=2, seg="B"), Row(k=9, seg="NEW")],
        "k long, seg string",
    )
    out = scd2_apply(dim, changes, key="k", attrs=["seg"], effective_date="2024-06-10")
    rows = {(r.k, r.seg): r for r in out.collect()}
    assert len(rows) == 6
    assert rows[(1, "A")].end_date == d(2024, 6, 9)          # closed out
    assert rows[(1, "A2")].start_date == d(2024, 6, 10) and rows[(1, "A2")].end_date is None
    assert rows[(2, "B")].end_date is None                    # identical -> untouched
    assert rows[(3, "C")].end_date is None                    # no change row -> untouched
    assert rows[(9, "NEW")].start_date == d(2024, 6, 10)      # brand-new key
    assert rows[(1, "OLD")].end_date == d(2019, 12, 31)       # history passes through

    again = scd2_apply(out, changes, key="k", attrs=["seg"], effective_date="2024-06-10")
    a = sorted((r.k, r.seg, str(r.start_date), str(r.end_date)) for r in again.collect())
    b = sorted((r.k, r.seg, str(r.start_date), str(r.end_date)) for r in out.collect())
    assert a == b                                             # idempotent re-apply


def test_kmeans_assign_separates_blobs(spark):
    """Two well-separated 2-D blobs with k=2: every point lands with its
    blob regardless of iteration count; determinism across reruns."""
    from pyspark.sql import Row

    from us_equity_datalake_spark.operators.similarity import kmeans_assign

    rows = [Row(vec_id=i, embedding=[0.0 + (i % 3) * 0.01, 0.0]) for i in range(10)] + [
        Row(vec_id=10 + i, embedding=[10.0 + (i % 3) * 0.01, 10.0]) for i in range(10)
    ]
    # ids 0 and 1 are both in blob A, so init centroids start inside one blob;
    # one Lloyd update must still pull a centroid to blob B
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.cluster_id for r in kmeans_assign(df, k=2, iters=2).collect()}
    blob_a = {out[i] for i in range(10)}
    blob_b = {out[10 + i] for i in range(10)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    again = {r.vec_id: r.cluster_id for r in kmeans_assign(df, k=2, iters=2).collect()}
    assert again == out


def test_distributed_prefix_sum_matches_window(spark):
    """Two-phase prefix sum must equal the single-partition window cumsum
    bit-exact on integers — including skewed key distributions and bucket
    counts above/below the row count."""
    import random

    from pyspark.sql import Row, Window

    from us_equity_datalake_spark.operators.prefix import distributed_prefix_sum

    rng = random.Random(7)
    rows = [Row(k=i * 10 + rng.randint(0, 9), v=rng.randint(-5, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long").dropDuplicates(["k"])
    expect = {
        r.k: r.c
        for r in df.withColumn(
            "c",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("long"),
        ).collect()
    }
    for n_buckets in (1, 4, 2000):
        got = {
            r.k: r.cum
            for r in distributed_prefix_sum(
                df, order_by="k", value="v", out="cum", num_buckets=n_buckets
            ).collect()
        }
        assert got == expect, f"mismatch at num_buckets={n_buckets}"


def test_assign_running_ids_matches_running_count(spark):
    """W5: the window-form id assignment equals ``base`` plus the running
    count of new-group flags in key order."""
    import random
    from itertools import accumulate

    from pyspark.sql import Row

    from us_equity_datalake_spark.operators.windows import assign_running_ids

    rng = random.Random(3)
    rows = [Row(k=i, grp=rng.randint(0, 1) == 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, grp boolean")
    w_ids = {
        r.k: r.assigned_id
        for r in assign_running_ids(df, order=["k"], new_group=F.col("grp")).collect()
    }
    expect = dict(enumerate(1000 + c for c in accumulate(int(r.grp) for r in rows)))
    assert w_ids == expect


def test_subword_count_golden(spark):
    # GPT-2-class pieces: contractions split, leading space attaches to the
    # word, punctuation runs are one piece, whitespace runs count once (the
    # documented RE2-compatible simplification), CJK letters group
    from us_equity_datalake_spark.functions import text

    cases = {
        "hello world": 2,            # "hello", " world"
        "it's": 2,                   # "it", "'s"
        "we'll go": 3,               # "we", "'ll", " go"
        "a,b": 3,                    # "a", ",", "b"
        "x  y": 3,                   # "x", "  " (ws run), "y" — the RE2 simplification
        "42 cats": 2,                # "42", " cats"
        "北京 123": 2,
        "": 0,
        # vertical tab U+000B: Java \s includes it, RE2 \s does not — the
        # explicit [ \t\n\f\r\x0b] class makes both engines treat it as
        # whitespace (a bare \s gives Java 5 / RE2 3 on this input)
        "a.\x0b.b": 5,               # "a", ".", "\x0b", ".", "b"
        "x \x0b y": 3,               # "x", " \x0b " (one ws run), "y"
    }
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases.items())], "id long, text string"
    )
    got = {
        r.id: r.n
        for r in df.select("id", text.subword_count(F.col("text")).alias("n")).collect()
    }
    import duckdb

    con = duckdb.connect()
    for i, (t, want) in enumerate(cases.items()):
        duck = con.execute(f"SELECT {text.subword_count_sql('?')}", [t]).fetchone()[0]
        assert got[i] == duck, (t, got[i], duck)  # cross-engine first
        assert got[i] == want, (t, got[i], want)


def test_hll_rho_golden(spark):
    from us_equity_datalake_spark.operators.sketch import _hll_rho, _HLL_RBITS, _HLL_W

    rows = [(1 << (_HLL_RBITS - 1),), (1 << (_HLL_RBITS - 7),), (3,), (1,), (0,)]
    df = spark.createDataFrame(rows, "r long").select(_hll_rho(F.col("r")).alias("rho"))
    got = [r["rho"] for r in df.collect()]
    # leading zeros + 1: top bit set -> 1; bit 41 -> 7; 3 -> 47; 1 -> 48; 0 -> 49
    assert got == [1, 7, _HLL_RBITS - 1, _HLL_RBITS, _HLL_W]


def test_hll_estimate_within_error(spark):
    from us_equity_datalake_spark.operators.sketch import hll_distinct

    n = 30_000  # raw-estimate branch (E > 2.5 * 4096)
    df = spark.range(n).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k")
    )
    row = hll_distinct(df, "k", by=["grp"]).collect()[0]
    assert row["exact_distinct"] == n
    # HLL(b=12) standard error is ~1.6%; allow 4 sigma.
    assert abs(row["est_distinct"] - n) / n < 0.065
    assert row["raw_est"] == row["est_distinct"]


def test_hll_linear_counting_branch(spark):
    from us_equity_datalake_spark.operators.sketch import hll_distinct

    n = 500  # far below 2.5m with empty registers -> linear counting
    df = spark.range(n).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k")
    )
    row = hll_distinct(df, "k", by=["grp"]).collect()[0]
    assert row["v_empty"] > 0 and row["est_distinct"] != row["raw_est"]
    assert abs(row["est_distinct"] - n) / n < 0.05


def test_cms_never_underestimates_and_small_stream_exact(spark):
    from us_equity_datalake_spark.operators.sketch import cms_estimate, cms_sketch

    rows = [("a",)] * 50 + [("b",)] * 7 + [("c",)] * 1
    df = spark.createDataFrame(rows, "term string")
    grid = cms_sketch(df, "term")
    probes = spark.createDataFrame([("a",), ("b",), ("c",)], "term string")
    got = {r["term"]: r["cms_n"] for r in cms_estimate(grid, probes, "term").collect()}
    # 3 distinct keys in a 4x2048 grid: collision-free, estimates are exact
    assert got == {"a": 50, "b": 7, "c": 1}


def test_cms_overestimates_under_forced_collisions(spark):
    from us_equity_datalake_spark.operators.sketch import cms_estimate, cms_sketch

    rows = [(f"k{i}",) for i in range(40) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "term string")
    # width 2: every counter aggregates ~half the stream -> massive inflation
    grid = cms_sketch(df, "term", width=2)
    probes = df.distinct()
    got = cms_estimate(grid, probes, "term", width=2).collect()
    exact = {f"k{i}": i + 1 for i in range(40)}
    assert all(r["cms_n"] >= exact[r["term"]] for r in got)
    assert any(r["cms_n"] > exact[r["term"]] for r in got)


def test_histogram_quantiles_error_bounded_by_bin_width(spark):
    from us_equity_datalake_spark.operators.stats import histogram_quantiles

    df = spark.range(10_000).select((F.col("id") * 3.5 + 7.0).alias("v"))
    out = {r["q"]: r for r in histogram_quantiles(df, "v").collect()}
    lo, hi = 7.0, 9999 * 3.5 + 7.0
    bin_w = (hi - lo) / 1024
    for q in (0.5, 0.9, 0.99):
        r = out[q]
        assert abs(r["est_q"] - r["exact_q"]) <= bin_w + 1e-6
        assert r["abs_err"] == round(abs(r["est_q"] - r["exact_q"]), 6)
    assert out[0.5]["target_rank"] == 5000


def test_histogram_quantiles_constant_and_null_columns(spark):
    from us_equity_datalake_spark.operators.stats import histogram_quantiles

    # all-equal values: hi == lo is short-circuited explicitly (bucket 0 for
    # every row) so neither engine ever evaluates floor(x/0); every quantile
    # is the constant with zero sketch error
    df = spark.createDataFrame([(5.0,), (5.0,), (None,), (5.0,)], "v double")
    out = histogram_quantiles(df, "v").collect()
    assert len(out) == 3
    assert all(r["exact_q"] == 5.0 for r in out)
    assert all(r["est_q"] == 5.0 for r in out)
    assert all(r["abs_err"] == 0.0 for r in out)


def test_histogram_quantiles_constant_column_sql_twin_parity(spark):
    """The hi == lo short-circuit must agree between engines: DuckDB's 0/0
    arithmetic (inf/NULL + CAST) used to diverge from Spark's null-fold on a
    constant column."""
    import duckdb

    from us_equity_datalake_spark.operators.stats import (
        histogram_quantiles,
        histogram_quantiles_sql,
    )

    df = spark.createDataFrame([(5.0,)] * 7 + [(None,)], "v double")
    got = sorted(
        (r["q"], r["target_rank"], r["est_q"], r["exact_q"], r["abs_err"])
        for r in histogram_quantiles(df, "v").collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT * FROM (VALUES (5.0), (5.0), (5.0), (5.0),"
        " (5.0), (5.0), (5.0), (NULL)) x(v)"
    )
    want = sorted(
        (q, tr, est, ex, err)
        for q, tr, est, ex, err in con.execute(
            histogram_quantiles_sql("t", "v")
        ).fetchall()
    )
    assert [tuple(map(float, g)) for g in got] == [
        tuple(map(float, w)) for w in want
    ]


def test_hll_merge_equals_direct_and_is_idempotent(spark):
    from us_equity_datalake_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
    )

    # overlapping groups: every group shares keys 0..199, plus disjoint tails
    rows = [(g, f"k{i}") for g in ("a", "b", "c") for i in range(200)]
    rows += [(g, f"{g}-extra{i}") for g in ("a", "b", "c") for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, k string")
    grp_regs = hll_registers(df, "k", by=["grp"])
    merged = hll_estimate_from_registers(hll_merge(grp_regs)).collect()[0]
    direct = hll_estimate_from_registers(hll_registers(df, "k", by=[])).collect()[0]
    assert merged.asDict() == direct.asDict()
    # 350 true distinct; linear-counting regime is near-exact
    assert abs(merged["est_distinct"] - 350) / 350 < 0.05
    # idempotent: re-merging the merged table changes nothing
    remerged = hll_estimate_from_registers(
        hll_merge(hll_merge(grp_regs))
    ).collect()[0]
    assert remerged.asDict() == merged.asDict()


def test_curation_funnel_positive_dedup_arm(spark):
    """Inject exact duplicates into the funnel corpus: the dedup stage must
    bite INSIDE the composed plan (the sf fixture has zero exact dups, so the
    registered query only verifies the stage negatively).  Duplicates differ
    by case and whitespace — the normalized hash (lower + collapse) must
    still collide — and the keep-lowest rule retains exactly one."""
    from us_equity_datalake_spark.plans.textops import curation_funnel

    good = ("The cat sat on the mat and the dog ran to the house in the "
            "garden for a while with a friend")
    rows = [
        (1, "en", good),
        # exact dup after normalization: case + doubled spaces
        (2, "en", good.upper().replace(" ", "  ")),
        # second dup: internal tabs + doubled internal spaces (the
        # normalizer collapses runs but does NOT trim, so edge whitespace
        # would not collide — internal-only variation does)
        (3, "en", good.replace(" and ", " \t and  ")),
        # passes quality + lang but is unique content
        (4, "en", "the bird flew over the lake and the fish swam in the "
                  "river to the sea for a day with a song"),
        # fails the quality gate (no stopwords, 2 tokens)
        (5, "en", "zzz qqq"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["lang"]: r for r in curation_funnel(docs).collect()}
    en = out["en"]
    assert en["n_docs"] == 5
    assert en["n_pass_quality"] == 4
    assert en["n_pass_lang"] == 4
    # dedup stage: 4 survivors collapse to 2 distinct normalized hashes
    assert en["n_kept"] == 2
    # token budget counts the KEPT docs only (both kept docs have 22 tokens)
    assert en["tokens_kept"] == en["n_kept"] * 22


def test_ema_closed_form_equals_pandas_recurrence(spark):
    """The windowed-prefix-sum EMA equals pandas ewm(alpha=0.5,
    adjust=False) BIT-EXACTLY on integer-cent inputs: with a dyadic alpha
    and integer terms, every intermediate is an exact double, so the
    parallel closed form and the sequential recurrence cannot drift."""
    import pyspark.sql.functions as F

    from us_equity_datalake_spark.plans import REGISTRY
    from us_equity_datalake_spark.plans.quant import _daily

    sf = "/root/testdata/sf0.01"
    got = REGISTRY["ema_daily_close"].fn(spark, sf).toPandas()
    d = _daily(spark, sf).select(
        "security_id", "d",
        F.floor(F.col("close") * 100 + F.lit(0.5)).alias("cents"),
    ).toPandas().sort_values(["security_id", "d"])
    d["want"] = d.groupby("security_id")["cents"].transform(
        lambda s: s.ewm(alpha=0.5, adjust=False).mean()
    )
    m = got.merge(d, on=["security_id", "d"])
    assert len(m) == len(got) and (m.ema_cents != m.want).sum() == 0


def test_ema_segmented_long_series_matches_pandas_and_survives_overflow(spark):
    """The segmented (blocked-scan) EMA stays finite and correct at 1,500
    rows per key — the regime where the naive closed form's 2^t weights
    (a) lose integer exactness past t+log2(cents)>53 and (b) hard-overflow
    doubles past t~1020.  Pins VERDICT r8 #4: segmented output matches the
    sequential pandas recurrence to float-rounding tolerance everywhere,
    while the naive weights are non-finite at the tail."""
    import numpy as np

    from us_equity_datalake_spark.plans import REGISTRY
    from us_equity_datalake_spark.plans.quant import _EMA_LONG_N

    sf = "/root/testdata/sf0.01"
    got = (
        REGISTRY["ema_daily_close_long"].fn(spark, sf)
        .toPandas()
        .sort_values(["security_id", "d"])
        .reset_index(drop=True)
    )
    assert np.isfinite(got.ema_cents).all()
    # naive closed-form weight at the series tail is not even representable
    with np.errstate(over="ignore"):
        assert np.isinf(np.float64(2.0) ** _EMA_LONG_N)

    got["t"] = got.groupby("security_id").cumcount() + 1
    got["cents"] = (
        5000 + (got.security_id * 2654435761 + got.t * 40503) % 20000
    ).astype(float)
    want = got.groupby("security_id")["cents"].transform(
        lambda s: s.ewm(alpha=0.5, adjust=False).mean()
    )
    rel = ((got.ema_cents - want).abs() / want.abs()).max()
    assert rel < 1e-12, f"max relative error {rel}"
    # one series spans ~47 blocks: every carry hand-off crossed a boundary
    assert got.t.max() == _EMA_LONG_N


def test_ema_short_form_guard_raises_past_exactness_bound(spark):
    """ema_daily_close now FAILS LOUDLY outside its exactness regime
    (ADVICE r8): a series long enough that cents*2^t >= 2^53 raises
    instead of silently diverging from the oracle."""
    import pandas as pd
    import pytest

    from us_equity_datalake_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.01"
    # fixture series (~27 rows/security, cents < 2^21) stays inside the bound
    REGISTRY["ema_daily_close"].fn(spark, sf).collect()

    # synthetic 60-row series at 6-digit cents crosses 2^53; the guard fires
    import pyspark.sql.functions as F

    from us_equity_datalake_spark.plans.quant import ema_q

    long_events = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1] * 60,
                "event_id": range(60),
                "ts": pd.date_range("2020-01-01", periods=60, freq="D"),
                "value": [9999.99] * 60,
            }
        )
    )
    import us_equity_datalake_spark.plans.quant as quant

    orig = quant._daily
    try:
        quant._daily = lambda spark, sf_dir: long_events.groupBy(
            F.col("user_id").alias("security_id"), F.col("ts").cast("date").alias("d")
        ).agg(F.max_by("value", F.struct("ts", "event_id")).alias("close"))
        with pytest.raises(Exception, match="exceeds 2\\^53"):
            ema_q(spark, sf).collect()
    finally:
        quant._daily = orig


def test_triangle_count_known_graphs(spark):
    """Triangle counting on hand-checkable graphs: a 4-clique (4 triangles,
    clustering 1.0), a star (0 triangles), and duplicate/reversed edge
    input normalizing to a simple graph."""
    from us_equity_datalake_spark.operators.components import triangle_count

    def run(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df).collect()[0]

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = run(clique)
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["clustering_ppm"] == 1_000_000  # every wedge closed

    star = [(0, i) for i in range(1, 6)]
    r = run(star)
    assert (r["n_triangles"], r["clustering_ppm"]) == (0, 0)

    # dup + reversed + self-loop edges normalize away
    messy = clique + [(b, a) for a, b in clique] + [(1, 1), (2, 3), (2, 3)]
    r = run(messy)
    assert (r["n_edges"], r["n_triangles"]) == (6, 4)

    # triangle hanging off a hub: degree orientation still finds exactly 1
    hub = [(0, i) for i in range(1, 8)] + [(1, 2)]
    r = run(hub)
    assert r["n_triangles"] == 1
