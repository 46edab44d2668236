"""Property-based differential tests (hypothesis) — the testing layer the
reference lacks (SURVEY §5): operators are checked against independent
reference implementations (pandas / brute-force Python) on randomized inputs,
not just hand-picked goldens.

Example counts are kept small per property: each example round-trips through
a Spark job, so budget ~0.2-0.5 s each.
"""

import datetime as dt
import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row, functions as F, types as T

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# ---------------------------------------------------------------------------
# J3 — as-of join ≡ pandas merge_asof (backward, by-key, inclusive ties)
# ---------------------------------------------------------------------------

_dates = st.integers(min_value=0, max_value=60)
_asof_case = st.tuples(
    st.lists(st.tuples(st.integers(0, 2), _dates), min_size=1, max_size=20),  # left (key, day)
    st.lists(st.tuples(st.integers(0, 2), _dates, st.integers(-5, 5)), min_size=0, max_size=20),  # right
)


@settings(**SETTINGS)
@given(_asof_case)
def test_asof_backward_matches_pandas(spark, case):
    from us_equity_datalake_spark.operators.asof import asof_join_backward

    left_rows, right_rows = case
    base = dt.date(2024, 1, 1)
    left = spark.createDataFrame(
        [Row(i=i, k=k, d=base + dt.timedelta(days=x)) for i, (k, x) in enumerate(left_rows)],
        T.StructType([T.StructField("i", T.LongType()), T.StructField("k", T.LongType()), T.StructField("d", T.DateType())]),
    )
    # right side must be unique per (k, d): keep max v like latest-wins
    rdict = {}
    for k, x, v in right_rows:
        rdict[(k, x)] = max(v, rdict.get((k, x), -99))
    right = spark.createDataFrame(
        [Row(k=k, d=base + dt.timedelta(days=x), v=float(v)) for (k, x), v in rdict.items()],
        T.StructType([T.StructField("k", T.LongType()), T.StructField("d", T.DateType()), T.StructField("v", T.DoubleType())]),
    )
    got = {
        r.i: r.v
        for r in asof_join_backward(left, right, by=["k"], left_on="d", right_on="d", value_cols=["v"]).collect()
    }

    lp = pd.DataFrame([{"i": i, "k": k, "d": pd.Timestamp(base + dt.timedelta(days=x))} for i, (k, x) in enumerate(left_rows)])
    rp = pd.DataFrame([{"k": k, "d": pd.Timestamp(base + dt.timedelta(days=x)), "v": float(v)} for (k, x), v in rdict.items()])
    if rp.empty:
        expected = {int(r.i): None for r in lp.itertuples()}
    else:
        m = pd.merge_asof(
            lp.sort_values(["d", "i"]), rp.sort_values("d"), on="d", by="k", direction="backward"
        )
        expected = {int(r.i): (None if pd.isna(r.v) else float(r.v)) for r in m.itertuples()}
    assert got == expected


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@settings(**SETTINGS)
@given(_asof_case)
def test_asof_directions_match_pandas(spark, direction, case):
    """forward = earliest at-or-after; nearest = closer side, ties backward —
    both must agree with pandas merge_asof on randomized inputs."""
    from us_equity_datalake_spark.operators.asof import asof_join_forward, asof_join_nearest

    fn = {"forward": asof_join_forward, "nearest": asof_join_nearest}[direction]
    left_rows, right_rows = case
    base = dt.date(2024, 1, 1)
    left = spark.createDataFrame(
        [Row(i=i, k=k, d=base + dt.timedelta(days=x)) for i, (k, x) in enumerate(left_rows)],
        T.StructType([T.StructField("i", T.LongType()), T.StructField("k", T.LongType()), T.StructField("d", T.DateType())]),
    )
    rdict = {}
    for k, x, v in right_rows:
        rdict[(k, x)] = max(v, rdict.get((k, x), -99))
    right = spark.createDataFrame(
        [Row(k=k, d=base + dt.timedelta(days=x), v=float(v)) for (k, x), v in rdict.items()],
        T.StructType([T.StructField("k", T.LongType()), T.StructField("d", T.DateType()), T.StructField("v", T.DoubleType())]),
    )
    got = {
        r.i: r.v
        for r in fn(left, right, by=["k"], left_on="d", right_on="d", value_cols=["v"]).collect()
    }

    lp = pd.DataFrame([{"i": i, "k": k, "d": pd.Timestamp(base + dt.timedelta(days=x))} for i, (k, x) in enumerate(left_rows)])
    rp = pd.DataFrame([{"k": k, "d": pd.Timestamp(base + dt.timedelta(days=x)), "v": float(v)} for (k, x), v in rdict.items()])
    if rp.empty:
        expected = {int(r.i): None for r in lp.itertuples()}
    else:
        m = pd.merge_asof(
            lp.sort_values(["d", "i"]), rp.sort_values("d"), on="d", by="k", direction=direction
        )
        expected = {int(r.i): (None if pd.isna(r.v) else float(r.v)) for r in m.itertuples()}
    assert got == expected


# ---------------------------------------------------------------------------
# W1 — TTM rolling 4 ≡ brute force
# ---------------------------------------------------------------------------


_ttm_vals = st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False))


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 1), _ttm_vals), min_size=1, max_size=24))
def test_ttm_rolling_matches_bruteforce(spark, series):
    from us_equity_datalake_spark.equity.ttm import compute_ttm_long

    schema = T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("concept", T.StringType()),
        T.StructField("as_of_date", T.DateType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("start", T.DateType()),
        T.StructField("end", T.DateType()),
        T.StructField("accn", T.StringType()),
        T.StructField("form", T.StringType()),
    ])
    rows, per_key = [], {}
    for k, v in series:
        q = len(per_key.setdefault(k, []))
        per_key[k].append(v)
        d = dt.date(2020, 1, 1) + dt.timedelta(days=91 * q)
        rows.append(Row(symbol=str(k), concept="rev", as_of_date=d, value=v,
                        start=d - dt.timedelta(days=90), end=d, accn=f"a{q}", form="10-Q"))
    df = spark.createDataFrame(rows, schema)
    got = {(r.symbol, r.as_of_date): r.value for r in compute_ttm_long(df).collect()}
    expected = {}
    for k, vals in per_key.items():
        # reference semantics (derived/ttm.py:76-81): null rows are dropped
        # BEFORE grouping; windows form over consecutive SURVIVING rows
        survivors = [(q, v) for q, v in enumerate(vals) if v is not None]
        for idx in range(3, len(survivors)):
            q, _ = survivors[idx]
            d = dt.date(2020, 1, 1) + dt.timedelta(days=91 * q)
            expected[(str(k), d)] = sum(v for _, v in survivors[idx - 3 : idx + 1])
    assert set(got) == set(expected)
    for key, v in expected.items():
        assert got[key] == pytest.approx(v, rel=1e-9)


# ---------------------------------------------------------------------------
# exact dedup invariants
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="ab \n", max_size=8), min_size=1, max_size=25))
def test_exact_dedup_invariants(spark, texts):
    from us_equity_datalake_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    out = exact_dedup(df).collect()
    # group sizes cover every input row exactly once
    assert sum(r.dup_count for r in out) == len(texts)
    # each kept id is the min id of its normalized-content group
    import re

    norm = lambda s: re.sub(r"\s+", " ", s.lower())  # noqa: E731
    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    expected_keep = {min(ids) for ids in groups.values()}
    assert {r.doc_id for r in out} == expected_keep


# ---------------------------------------------------------------------------
# safe_math: never NaN / Inf, null exactly when guarded
# ---------------------------------------------------------------------------

_vals = st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32), st.just(0.0))


@settings(**SETTINGS)
@given(st.lists(st.tuples(_vals, _vals), min_size=1, max_size=30))
def test_safe_div_total_discipline(spark, pairs):
    from us_equity_datalake_spark.functions.safe_math import safe_div

    df = spark.createDataFrame(
        [Row(i=i, a=a, b=b) for i, (a, b) in enumerate(pairs)],
        T.StructType([T.StructField("i", T.LongType()), T.StructField("a", T.DoubleType()), T.StructField("b", T.DoubleType())]),
    )
    out = {r.i: r.q for r in df.select("i", safe_div(F.col("a"), F.col("b")).alias("q")).collect()}
    for i, (a, b) in enumerate(pairs):
        q = out[i]
        if a is None or b is None or b == 0.0:
            assert q is None
        else:
            assert q is not None and math.isfinite(q)


# ---------------------------------------------------------------------------
# word_shingles: Spark expression == naive python on arbitrary short docs
# (guards the descending-sequence(1,0) edge that fabricated phantom shingles)
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="ab1 .,", max_size=12), min_size=1, max_size=15),
       st.integers(2, 4))
def test_word_shingles_matches_naive(spark, texts, n):
    import re

    from pyspark.sql import functions as F

    from us_equity_datalake_spark.functions.text import tokens, word_shingles

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {
        r.doc_id: r.sh
        for r in df.select("doc_id", word_shingles(tokens(F.col("text")), n).alias("sh")).collect()
    }

    def naive(t):
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    for i, t in enumerate(texts):
        assert got[i] == naive(t), (t, n)


# ---------------------------------------------------------------------------
# redact_pii: idempotent, count-consistent, never leaves a raw match behind
# ---------------------------------------------------------------------------

_pii_frag = st.one_of(
    st.text(alphabet="xy @.-()0123456789", max_size=12),
    st.just("a@b.co"),
    st.just("123-45-6789"),
    st.just("(555) 123-4567"),
)


@settings(**SETTINGS)
@given(st.lists(_pii_frag, min_size=1, max_size=6))
def test_redact_pii_idempotent_and_complete(spark, frags):
    import re

    from pyspark.sql import functions as F

    from us_equity_datalake_spark.functions.text import PII_PATTERNS, redact_pii

    text = " ".join(frags)
    df = spark.createDataFrame([Row(id=1, t=text)])
    once = df.select(redact_pii(F.col("t")).alias("r")).collect()[0].r
    twice = df.select(redact_pii(redact_pii(F.col("t"))).alias("r")).collect()[0].r
    assert once == twice  # idempotent: placeholders never re-match
    for pat in PII_PATTERNS.values():
        assert not re.search(pat, once), (text, once)


# ---------------------------------------------------------------------------
# SCD2 merge invariants on randomized dimensions/change sets
# ---------------------------------------------------------------------------

_scd_case = st.tuples(
    st.dictionaries(st.integers(0, 8), st.sampled_from(["A", "B", "C"]), min_size=1, max_size=8),
    st.dictionaries(st.integers(0, 12), st.sampled_from(["A", "B", "C", "D"]), max_size=8),
)


@settings(**SETTINGS)
@given(_scd_case)
def test_scd2_invariants(spark, case):
    """For ANY current dimension + change set: (1) exactly one current row per
    key afterwards, (2) current value = change value where a change row
    exists, else the old value, (3) closed rows end the day before the
    effective date, (4) re-applying the same change set is a no-op."""
    from us_equity_datalake_spark.operators.scd import scd2_apply

    dim_map, change_map = case
    d0 = dt.date(2020, 1, 1)
    dim = spark.createDataFrame(
        [Row(k=k, seg=v, start_date=d0, end_date=None) for k, v in dim_map.items()],
        "k long, seg string, start_date date, end_date date",
    )
    changes = spark.createDataFrame(
        [Row(k=k, seg=v) for k, v in change_map.items()], "k long, seg string"
    )
    out = scd2_apply(dim, changes, key="k", attrs=["seg"], effective_date="2024-06-10")
    rows = out.collect()

    current = [r for r in rows if r.end_date is None]
    per_key = {}
    for r in current:
        assert r.k not in per_key, f"two current rows for key {r.k}"
        per_key[r.k] = r.seg
    expected = {**dim_map, **change_map}
    assert per_key == expected

    eff_minus_1 = dt.date(2024, 6, 9)
    for r in rows:
        if r.end_date is not None:
            assert r.end_date == eff_minus_1
            assert change_map.get(r.k) not in (None, r.seg)  # closed only on real change

    again = scd2_apply(out, changes, key="k", attrs=["seg"], effective_date="2024-06-10")
    a = sorted((r.k, r.seg, str(r.start_date), str(r.end_date)) for r in again.collect())
    b = sorted((r.k, r.seg, str(r.start_date), str(r.end_date)) for r in rows)
    assert a == b


# ---------------------------------------------------------------------------
# Theta sketch — exhaustive regime (distinct keys <= k) is EXACT for any
# input multiset; estimates keep intersection <= union in every regime
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=80),
    st.lists(st.integers(20, 70), min_size=1, max_size=80),
)
def test_theta_sketch_exhaustive_exactness(spark, xs, ys):
    from us_equity_datalake_spark.operators import sketch

    a = spark.createDataFrame([(v,) for v in xs], "k long")
    b = spark.createDataFrame([(v,) for v in ys], "k long")
    row = sketch.theta_set_report(a, b, "k", k=64).collect()[0]
    sx, sy = set(xs), set(ys)
    assert row["exact_intersection"] == len(sx & sy)
    assert row["exact_union"] == len(sx | sy)
    assert row["theta"] == (1 << 60)  # <= 64 distinct keys per side
    assert row["est_intersection"] == float(len(sx & sy))
    assert row["est_union"] == float(len(sx | sy))
    assert row["est_intersection"] <= row["est_union"]


# ---------------------------------------------------------------------------
# Bloom filter — zero false negatives for ANY member/probe sets, and hits
# are exactly {members} ∪ {false positives}
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    st.lists(st.integers(0, 2000), min_size=1, max_size=60),
    st.lists(st.integers(0, 2000), min_size=1, max_size=60),
)
def test_bloom_never_false_negative(spark, members, probes):
    from us_equity_datalake_spark.operators import sketch

    mdf = spark.createDataFrame([(str(v),) for v in set(members)], "key string")
    pdf = spark.createDataFrame([(str(v),) for v in set(probes)], "key string")
    bits = sketch.bloom_build(mdf, "key", m=512)  # small m: FPs likely
    hits = {r["key"]: r["bloom_hit"]
            for r in sketch.bloom_probe(bits, pdf, "key", m=512).collect()}
    member_set = {str(v) for v in members}
    for key, hit in hits.items():
        if key in member_set:
            assert hit, f"false negative on member {key}"
    assert len(hits) == len({str(v) for v in probes})
