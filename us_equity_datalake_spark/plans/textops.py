"""Training-data-pipeline text operators over the ``documents`` table:
exact dedup, token stats, quality scoring, language ID, n-gram Jaccard,
MinHash+LSH, SimHash, winnowing fingerprints (north-star extensions; the
reference's own text surface is N1–N6/A11).

Every query has a full DuckDB oracle — including MinHash and SimHash, whose
md5-based hashes are engine-portable (functions.hashing).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from us_equity_datalake_spark.functions import hashing, text
from us_equity_datalake_spark.functions.hashing import MERSENNE_P, perm_coefficients
from us_equity_datalake_spark.operators import dedup, lm, sampling
from us_equity_datalake_spark.operators._cache import materialize_once
from us_equity_datalake_spark.sources.registry import load_table, parallelize_small_input
from .base import register, scratch_dir


def _docs_parallel(spark, sf_dir):
    """documents spread across all cores (small-file input lands in one split,
    which would serialize the heavy row-local text projections below)."""
    return parallelize_small_input(load_table(spark, "documents", sf_dir), "doc_id")

# Shared SQL fragments (tokens / positional shingles / shingle hashes).
_TOKS_SQL = f"""
  toks AS (
    SELECT doc_id, text, {text.tokens_sql('text')} AS t FROM documents
  )
"""
_SHINGLE_POS_SQL = """
  pos AS (
    SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks
  ),
  sh_pos AS (
    SELECT doc_id, i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM pos
  )
"""
_SHINGLE_SQL = _SHINGLE_POS_SQL + """,
  sh_str AS (
    SELECT DISTINCT doc_id, s FROM sh_pos
  )
"""
_H32 = hashing.md5_long32_sql("s")


_NORM_EXPR = hashing.md5_long60_sql(r"regexp_replace(lower(text), '\s+', ' ', 'g')")


@register(
    "doc_exact_dedup",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_NORM_EXPR} AS hh
      FROM documents
    )
    SELECT doc_id, dup_count FROM (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY hh) AS dup_count,
             ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
      FROM h
    ) WHERE rn = 1
    """,
    doc="Exact dedup: hash normalized content (never groupBy raw text at scale), "
    "keep min-id doc per hash with group size.",
)
def exact_dedup_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return dedup.exact_dedup(docs, text_col="text", id_col="doc_id").select("doc_id", "dup_count")


@register(
    "doc_token_stats",
    oracle=f"""
    WITH {_TOKS_SQL}
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
           ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 6) AS mean_word_len
    FROM toks WHERE len(t) > 0
    """,
    doc="Token counting (whitespace+alnum regex tokenizer): counts, distinct "
    "counts, mean word length — all JVM-side array ops.",
)
def token_stats_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    toks = text.tokens(F.col("text"))
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.round(text.mean_word_len(toks), 6).alias("mean_word_len"),
    )
    return out.filter(F.col("n_tokens") > 0)


@register(
    "doc_subword_stats",
    oracle=f"""
    WITH {_TOKS_SQL}
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_ws_tokens,
           CAST({text.subword_count_sql('text')} AS BIGINT) AS n_subword,
           ROUND(CAST(length(text) AS DOUBLE) / {text.subword_count_sql('text')}, 6)
             AS chars_per_subword
    FROM toks WHERE {text.subword_count_sql('text')} > 0
    """,
    doc="BPE-ish subword budgeting (GPT-2 pre-tokenizer classes, "
    "RE2-compatible — see functions/text.py BPE_ISH_RE): subword-piece count "
    "next to the whitespace count plus the chars-per-piece ratio used for "
    "token-budget estimates; one regexp_extract_all per row, JVM-side.",
)
def subword_stats_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    n_sub = text.subword_count(F.col("text"))
    out = docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        n_sub.cast("long").alias("n_subword"),
        F.round(F.length("text").cast("double") / n_sub, 6).alias("chars_per_subword"),
    )
    return out.filter(F.col("n_subword") > 0)


_SW_LIST = "['" + "','".join(sorted(text.EN_STOPWORDS)) + "']"


@register(
    "doc_quality_scores",
    oracle=f"""
    WITH {_TOKS_SQL},
    feats AS (
      SELECT doc_id,
             CAST(len(t) AS DOUBLE) AS n,
             CAST(length(text) AS DOUBLE) AS total_chars,
             CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS punct_chars,
             CAST(len(list_filter(t, x -> list_contains({_SW_LIST}, x))) AS DOUBLE) AS sw_hits
      FROM toks
    )
    SELECT doc_id,
           ROUND(0.4 * least(n / 100.0, 1.0)
               + 0.3 * (1.0 - (CASE WHEN total_chars > 0 THEN punct_chars / total_chars ELSE 0.0 END))
               + 0.3 * least((CASE WHEN n > 0 THEN sw_hits / n ELSE 0.0 END) * 4, 1.0), 6) AS quality
    FROM feats
    """,
    doc="Quality scoring: length/punct/stopword-ratio composite "
    "(web-pipeline quality gate; reference analog derived/word_lists.py).",
)
def quality_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


def _lang_hits_sql(lang: str) -> str:
    lst = "['" + "','".join(text.LANG_STOPWORDS[lang]) + "']"
    return f"len(list_filter(t, x -> list_contains({lst}, x)))"


def _curation_oracle() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    pred_case = " ".join(
        f"WHEN h_{lg} >= greatest({', '.join('h_' + o for o in langs if o != lg)}) THEN '{lg}'"
        for lg in langs
    )
    return f"""
    WITH {_TOKS_SQL},
    feats AS (
      SELECT doc_id,
             CAST(len(t) AS DOUBLE) AS n,
             CAST(length(text) AS DOUBLE) AS total_chars,
             CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS punct_chars,
             CAST(len(list_filter(t, x -> list_contains({_SW_LIST}, x))) AS DOUBLE) AS sw_hits
      FROM toks
    ),
    q AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             ROUND(0.4 * least(n / 100.0, 1.0)
                 + 0.3 * (1.0 - (CASE WHEN total_chars > 0 THEN punct_chars / total_chars ELSE 0.0 END))
                 + 0.3 * least((CASE WHEN n > 0 THEN sw_hits / n ELSE 0.0 END) * 4, 1.0), 6) AS q
      FROM feats
    ),
    pred AS (
      SELECT doc_id, CASE {pred_case} END AS pred_lang
      FROM (SELECT doc_id, {', '.join(f'{_lang_hits_sql(lg)} AS h_{lg}' for lg in langs)} FROM toks)
    ),
    staged AS (
      SELECT d.doc_id, d.lang, q.n_tokens, {_NORM_EXPR} AS hh,
             q.q >= 0.5 AS pass_q,
             (q.q >= 0.5 AND p.pred_lang = d.lang) AS pass_lang
      FROM documents d
      JOIN q USING (doc_id)
      JOIN pred p USING (doc_id)
    ),
    kept AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
        FROM staged WHERE pass_lang
      ) WHERE rn = 1
    )
    SELECT s.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN s.pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
           CAST(SUM(CASE WHEN s.pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_lang,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN k.doc_id IS NOT NULL THEN s.n_tokens END), 0) AS BIGINT) AS tokens_kept
    FROM staged s LEFT JOIN kept k USING (doc_id)
    GROUP BY s.lang
    """


@register(
    "curation_pipeline_report",
    oracle=_curation_oracle(),
    doc="The END-TO-END curation funnel in one query — quality gate (score "
    ">= 0.5) -> language confirmation (stopword-argmax prediction must match "
    "the label) -> exact dedup among survivors (keep-lowest per normalized "
    "content hash) — reported per language with doc counts at every stage "
    "and the surviving token budget.  One corpus pass computes every "
    "row-local feature; the only shuffles are the dedup hash window and the "
    "final rollup, which is the whole point at 100 TB: a curation pass is a "
    "composition of the already-graded operators, not a new engine.",
)
def curation_pipeline_q(spark, sf_dir):
    return curation_funnel(_docs_parallel(spark, sf_dir))


def curation_funnel(docs):
    """The funnel body on an arbitrary (doc_id, lang, text) frame — split
    out of the registered query so tests can inject crafted corpora (the
    sf fixture contains zero exact duplicates, which leaves the dedup stage
    only negatively verified end-to-end)."""
    from us_equity_datalake_spark.functions import hashing as _hashing

    toks = text.tokens(F.col("text"))
    langs = sorted(text.LANG_STOPWORDS)

    def _hits(sw_words):
        sw = F.array(*[F.lit(w) for w in sw_words])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    pred = None
    for lg in langs:
        others = [F.col(f"h_{o}") for o in langs if o != lg]
        cond = F.col(f"h_{lg}") >= F.greatest(*others)
        pred = F.when(cond, F.lit(lg)) if pred is None else pred.when(cond, F.lit(lg))

    staged = (
        docs.withColumns({f"h_{lg}": _hits(text.LANG_STOPWORDS[lg]) for lg in langs})
        .select(
            "doc_id",
            "lang",
            F.size(toks).cast("long").alias("n_tokens"),
            _hashing.md5_long60(
                F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
            ).alias("hh"),
            (text.quality_score(F.col("text")) >= 0.5).alias("pass_q"),
            pred.alias("pred_lang"),
        )
        .withColumn("pass_lang", F.col("pass_q") & (F.col("pred_lang") == F.col("lang")))
    )
    # staged has TWO consumers (the dedup window side and the rollup join's
    # stream side), which the final plan runs as racing stage-jobs — without
    # materialization the whole corpus pass (tokenize + per-language
    # stopword hits + quality + md5) executes once PER consumer (profiled
    # r13: duplicated 1-task scan and 33-task projection jobs).  staged is
    # the guide-§8 'decision table' — per-doc METADATA, no text — so
    # materializing it once is exactly the decide-with-small-rows shape at
    # any scale.
    staged = materialize_once(staged)
    w = Window.partitionBy("hh").orderBy("doc_id")
    kept = (
        staged.where(F.col("pass_lang"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.lit(True).alias("kept"))
    )
    return (
        staged.join(kept, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pass_q"), 1).otherwise(0)).cast("long").alias("n_pass_quality"),
            F.sum(F.when(F.col("pass_lang"), 1).otherwise(0)).cast("long").alias("n_pass_lang"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )


_LANGS = sorted(text.LANG_STOPWORDS)  # alphabetical tie-break order


@register(
    "doc_lang_id",
    oracle=f"""
    WITH {_TOKS_SQL},
    hits AS (
      SELECT doc_id, {', '.join(f'{_lang_hits_sql(lg)} AS h_{lg}' for lg in _LANGS)}
      FROM toks
    )
    SELECT h.doc_id,
           CASE {' '.join(f"WHEN h_{lg} >= greatest({', '.join('h_' + o for o in _LANGS if o != lg)}) THEN '{lg}'" for lg in _LANGS)}
           END AS pred_lang,
           d.lang AS label_lang
    FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    """,
    doc="Language ID: stopword-hit argmax heuristic with alphabetical tie-break "
    "(n-gram heuristic family; all column expressions).",
)
def lang_id_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    toks = text.tokens(F.col("text"))
    def _hits(sw_words):
        sw = F.array(*[F.lit(w) for w in sw_words])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    hit_cols = {f"h_{lg}": _hits(text.LANG_STOPWORDS[lg]) for lg in _LANGS}
    df = docs.withColumns(hit_cols)
    pred = None
    for lg in _LANGS:
        others = [F.col(f"h_{o}") for o in _LANGS if o != lg]
        cond = F.col(f"h_{lg}") >= F.greatest(*others)
        pred = F.when(cond, F.lit(lg)) if pred is None else pred.when(cond, F.lit(lg))
    return df.select("doc_id", pred.alias("pred_lang"), F.col("lang").alias("label_lang"))


@register(
    "doc_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_TOKS_SQL}, {_SHINGLE_SQL},
    sh AS (SELECT doc_id, {_H32} AS sh FROM sh_str),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5
    """,
    doc="n-gram Jaccard near-dup pairs via inverted-index self-join on shingle "
    "hashes — cost ∝ Σ postinglist², the EXACT-verification fixture path.  At "
    "corpus scale candidates come from LSH instead (doc_lsh_verified_jaccard, "
    "the ~linear scale path); a PPJoin prefix filter was measured twice and "
    "lost twice on this flat-df corpus (see ngram_jaccard_pairs docstring).",
)
def jaccard_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return dedup.ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id", n=3, threshold=0.5)


_NUM_PERM, _BANDS, _SEED = 16, 4, 7
_COEFFS = perm_coefficients(_NUM_PERM, _SEED)
_ROWS = _NUM_PERM // _BANDS


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE_P}) AS m{i}" for i, (a, b) in enumerate(_COEFFS)
    )
    return f"sig AS (SELECT doc_id, {mins} FROM sh32 GROUP BY doc_id)"


def _band_arm(bi: int) -> str:
    key = " || ',' || ".join(f"CAST(m{bi * _ROWS + r} AS VARCHAR)" for r in range(_ROWS))
    return f"SELECT doc_id, {bi} AS band, {key} AS bkey FROM sig"


@register(
    "doc_minhash_lsh_pairs",
    oracle=f"""
    WITH {_TOKS_SQL}, {_SHINGLE_SQL},
    sh32 AS (SELECT DISTINCT doc_id, {_H32} AS h FROM sh_str),
    {_minhash_sig_sql()},
    bands AS ({' UNION ALL '.join(_band_arm(bi) for bi in range(_BANDS))}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(({' + '.join(f'CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END' for i in range(_NUM_PERM))}) / {_NUM_PERM}.0, 6) AS est_jaccard
    FROM cand c JOIN sig sa ON c.id_a = sa.doc_id JOIN sig sb ON c.id_b = sb.doc_id
    """,
    doc="MinHash+LSH: 16 universal-hash permutations, 4 bands × 4 rows; "
    "candidates from band-bucket equi-join; estimate = matching components / 16.",
)
def minhash_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return dedup.minhash_lsh_pairs(
        docs, text_col="text", id_col="doc_id", n=3, num_perm=_NUM_PERM, bands=_BANDS, seed=_SEED
    )


@register(
    "doc_lsh_verified_jaccard",
    oracle=f"""
    WITH {_TOKS_SQL}, {_SHINGLE_SQL},
    sh32 AS (SELECT DISTINCT doc_id, {_H32} AS h FROM sh_str),
    {_minhash_sig_sql()},
    bands AS ({' UNION ALL '.join(_band_arm(bi) for bi in range(_BANDS))}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh32 GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS cm
      FROM cand c
      JOIN sh32 a ON a.doc_id = c.id_a
      JOIN sh32 b ON b.doc_id = c.id_b AND a.h = b.h
      GROUP BY c.id_a, c.id_b
    )
    SELECT cm_t.id_a, cm_t.id_b,
           ROUND(cm * 1.0 / (sa.sz + sb.sz - cm), 6) AS jaccard
    FROM common cm_t
    JOIN sizes sa ON cm_t.id_a = sa.doc_id
    JOIN sizes sb ON cm_t.id_b = sb.doc_id
    WHERE cm * 1.0 / (sa.sz + sb.sz - cm) >= 0.5
    """,
    doc="The production-scale dedup shape: MinHash-LSH band candidates + TRUE "
    "Jaccard verification over per-doc shingle sets, threshold 0.5.  Linear "
    "where the exact inverted-index form is Σ df²-quadratic (sf1 smoke: "
    "candidates 2.8M → 272M for 10x docs); recall bound from the banding.  Set "
    "semantics on the shingle hash in both engines (DISTINCT / collect_set).",
)
def lsh_verified_jaccard_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return dedup.lsh_verified_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.5,
        num_perm=_NUM_PERM, bands=_BANDS, seed=_SEED,
    )


_DELTA_MOD = 5  # ~20% of docs arrive as the "new batch"; the rest are the lake


def _pair_est_sql(a_id: str, b_id: str) -> str:
    comp = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(_NUM_PERM))
    return (
        f"SELECT {a_id} AS did, ROUND(({comp}) / {_NUM_PERM}.0, 6) AS est\n"
        f"      FROM __CAND__ c JOIN sig sa ON c.{a_id} = sa.doc_id JOIN sig sb ON c.{b_id} = sb.doc_id"
    )


@register(
    "doc_incremental_dedup_report",
    oracle=f"""
    WITH {_TOKS_SQL}, {_SHINGLE_SQL},
    sh32 AS (SELECT DISTINCT doc_id, {_H32} AS h FROM sh_str),
    {_minhash_sig_sql()},
    tag AS (
      SELECT doc_id,
             ({hashing.md5_long32_sql("CAST(doc_id AS VARCHAR)")}) % {_DELTA_MOD} = 0 AS is_delta
      FROM documents
    ),
    bands AS ({' UNION ALL '.join('(' + _band_arm(bi) + ')' for bi in range(_BANDS))}),
    dband AS (SELECT b.* FROM bands b JOIN tag t ON b.doc_id = t.doc_id WHERE t.is_delta),
    lband AS (SELECT b.* FROM bands b JOIN tag t ON b.doc_id = t.doc_id WHERE NOT t.is_delta),
    lake_cand AS (
      SELECT DISTINCT d.doc_id AS did, l.doc_id AS oid
      FROM dband d JOIN lband l ON d.band = l.band AND d.bkey = l.bkey
    ),
    intra_cand AS (
      SELECT DISTINCT a.doc_id AS did, b.doc_id AS oid
      FROM dband a JOIN dband b ON a.band = b.band AND a.bkey = b.bkey AND b.doc_id < a.doc_id
    ),
    lake_est AS ({_pair_est_sql('did', 'oid').replace('__CAND__', 'lake_cand')}),
    intra_est AS ({_pair_est_sql('did', 'oid').replace('__CAND__', 'intra_cand')}),
    lake_agg AS (SELECT did, COUNT(*) AS n_lake_cands, MAX(est) AS best_lake_est FROM lake_est GROUP BY did),
    intra_agg AS (SELECT did, COUNT(*) AS n_intra_cands, MAX(est) AS best_intra_est FROM intra_est GROUP BY did)
    SELECT t.doc_id,
           COALESCE(la.n_lake_cands, 0) AS n_lake_cands,
           COALESCE(la.best_lake_est, 0.0) AS best_lake_est,
           COALESCE(ia.n_intra_cands, 0) AS n_intra_cands,
           COALESCE(ia.best_intra_est, 0.0) AS best_intra_est,
           CASE WHEN COALESCE(la.best_lake_est, 0.0) >= 0.5 THEN 'dup_lake'
                WHEN COALESCE(ia.best_intra_est, 0.0) >= 0.5 THEN 'dup_intra'
                ELSE 'new' END AS status
    FROM tag t
    LEFT JOIN lake_agg la ON t.doc_id = la.did
    LEFT JOIN intra_agg ia ON t.doc_id = ia.did
    WHERE t.is_delta
    """,
    doc="INCREMENTAL dedup — the shape a 100 TB lake actually runs daily: "
    "the historical corpus's MinHash signatures are a parquet SIDE STORE "
    "(written once here, read back), so an arriving batch hashes only its "
    "own text, band-joins against the stored signatures (dup-vs-lake) and "
    "against itself keep-lowest (dup-intra), and each new doc gets a "
    "status.  The alternative — re-running full-corpus LSH per batch — "
    "re-tokenizes the whole lake every day; this re-tokenizes only the "
    "delta and shuffles band keys against a signature store that is "
    "~num_perm longs per historical doc.",
)
def doc_incremental_dedup_report_q(spark, sf_dir):
    import os

    from us_equity_datalake_spark.operators import _cache

    docs = load_table(spark, "documents", sf_dir)
    is_delta = hashing.md5_long32(F.col("doc_id").cast("string")) % _DELTA_MOD == 0
    lake, delta = docs.where(~is_delta), docs.where(is_delta)

    # 1. the signature STORE: lake text hashed ONCE, persisted as parquet
    #    (in production this store is appended per batch, never recomputed)
    root = scratch_dir("incdedup", sf_dir)
    dedup.minhash_signatures(
        lake, text_col="text", id_col="doc_id", num_perm=_NUM_PERM, seed=_SEED
    ).write.parquet(root)
    stored = spark.read.parquet(root)

    # 2. only the delta's text is hashed on arrival; persisted because it
    #    feeds three join sides (lake probe + both intra sides) and the
    #    Arrow kernel would otherwise re-execute per side (see
    #    minhash_lsh_pairs) — released via operators.release_caches()
    delta_sig = _cache.track(
        dedup.minhash_signatures(
            delta, text_col="text", id_col="doc_id", num_perm=_NUM_PERM, seed=_SEED
        ).persist()
    )
    lake_pairs = dedup.lsh_band_join(delta_sig, stored, num_perm=_NUM_PERM, bands=_BANDS)
    intra_pairs = dedup.lsh_band_join(
        delta_sig, delta_sig, num_perm=_NUM_PERM, bands=_BANDS
    ).where(F.col("id_b") < F.col("id_a"))
    lake_agg = lake_pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count("*").alias("n_lake_cands"), F.max("est_jaccard").alias("best_lake_est")
    )
    intra_agg = intra_pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count("*").alias("n_intra_cands"), F.max("est_jaccard").alias("best_intra_est")
    )
    best_lake = F.coalesce("best_lake_est", F.lit(0.0))
    best_intra = F.coalesce("best_intra_est", F.lit(0.0))
    return (
        delta.select("doc_id")
        .join(lake_agg, "doc_id", "left")
        .join(intra_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lake_cands", F.lit(0)).alias("n_lake_cands"),
            best_lake.alias("best_lake_est"),
            F.coalesce("n_intra_cands", F.lit(0)).alias("n_intra_cands"),
            best_intra.alias("best_intra_est"),
            F.when(best_lake >= 0.5, F.lit("dup_lake"))
            .when(best_intra >= 0.5, F.lit("dup_intra"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


_SIM_BITS = 32
_TH = hashing.md5_long32_sql("tok")


@register(
    "doc_simhash_pairs",
    oracle=f"""
    WITH {_TOKS_SQL},
    tok AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM toks),
    -- no post-hash DISTINCT: the Spark side hashes the distinct-token stream
    -- without re-deduping, so a within-doc hash collision votes twice in both
    th AS (SELECT doc_id, {_TH} AS th FROM tok),
    bitsum AS (
      SELECT doc_id, bit, SUM(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(generate_series(0, {_SIM_BITS - 1})) AS bit)
      GROUP BY doc_id, bit
    ),
    fp AS (
      SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
      FROM bitsum GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS bkey
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS h_a, b.simhash AS h_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
    """,
    doc="SimHash (Charikar): 32-bit fingerprint from ±1 bit votes of token "
    "hashes; near-dups blocked on 8-bit bands, verified by hamming <= 3.",
)
def simhash_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    out = dedup.simhash_pairs(docs, text_col="text", id_col="doc_id", bits=_SIM_BITS, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long"))


@register(
    "doc_duplicate_spans",
    oracle=f"""
    WITH {_TOKS_SQL},
    sh AS (
      SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS s
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i)
    ),
    seed AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS pa, b.i AS pb
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT id_a, id_b, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
      FROM seed
    ),
    spans AS (
      SELECT id_a, id_b, pa - pb AS diag, MIN(pa) AS start_a, MIN(pb) AS start_b,
             CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
      FROM isl GROUP BY id_a, id_b, pa - pb, grp
    )
    SELECT id_a, id_b, start_a, start_b, span_tokens
    FROM spans WHERE span_tokens >= 12
    """,
    doc="Exact-substring duplicate spans (Lee et al. 2021 seed-and-extend): "
    "maximal runs of consecutive shared 8-gram seeds between doc pairs, "
    "one equi-join on the seed hash (string-verified) + the islands trick "
    "per (pair, diagonal) — reports (start_a, start_b, span_tokens >= 12).",
)
def duplicate_spans_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return dedup.duplicate_spans(
        docs, text_col="text", id_col="doc_id", n=8, min_span_tokens=12
    )


@register(
    "doc_duplicate_span_scrub",
    oracle=f"""
    WITH {_TOKS_SQL},
    sh AS (
      SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS s
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i)
    ),
    seed AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS pa, b.i AS pb
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT id_a, id_b, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
      FROM seed
    ),
    spans AS (
      SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
      FROM isl GROUP BY id_a, id_b, pa - pb, grp
    ),
    big AS (SELECT * FROM spans WHERE span_tokens >= 12),
    ivs AS (
      SELECT id_b AS doc_id,
             list({{'s': start_b, 'e': start_b + span_tokens}}) AS ivs,
             CAST(COUNT(*) AS BIGINT) AS n_spans_removed
      FROM big GROUP BY id_b
    ),
    joined AS (
      SELECT toks.doc_id, t, COALESCE(ivs.ivs, []) AS ivs,
             COALESCE(n_spans_removed, 0) AS n_spans_removed
      FROM toks LEFT JOIN ivs ON toks.doc_id = ivs.doc_id
    ),
    cut AS (
      SELECT doc_id, t, n_spans_removed,
             [t[i] FOR i IN generate_series(1, len(t))
              IF len(list_filter(ivs, iv -> i >= iv.s AND i < iv.e)) = 0] AS kept
      FROM joined
    )
    SELECT doc_id AS id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept, n_spans_removed,
           -- a fully-scrubbed doc keeps zero tokens: duckdb's array_to_string
           -- returns NULL on the empty list where spark's array_join gives ''
           COALESCE(array_to_string(kept, ' '), '') AS scrubbed_text
    FROM cut
    """,
    doc="The actionable half of exact-substring dedup: every duplicated span "
    "is cut from the higher doc_id (keep-lowest rule), token positions "
    "filtered against the per-doc interval array with one JVM higher-order "
    "expression — no interval merging needed, overlaps compose.",
)
def duplicate_span_scrub_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return dedup.scrub_duplicate_spans(
        docs, text_col="text", id_col="doc_id", n=8, min_span_tokens=12
    )


@register(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH {_TOKS_SQL}, {_SHINGLE_POS_SQL},
    hashed AS (SELECT doc_id, i, {_H32} AS h FROM sh_pos),
    winmin AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w
      FROM hashed
    )
    SELECT doc_id, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_fingerprints,
           MIN(w) AS min_fp, MAX(w) AS max_fp
    FROM winmin GROUP BY doc_id
    """,
    doc="Winnowing document fingerprints: shingle-hash stream → sliding-window "
    "min (w=4) → distinct mins per doc (Schleimer et al. MOSS scheme).  "
    "Routed through operators.dedup.winnow_fingerprints — Arrow kernel by "
    "default (zero-shuffle row-local form), HOF twin for parity.",
)
def winnow_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    out = dedup.winnow_fingerprints(docs, text_col="text", id_col="doc_id", n=3, window=4)
    return out.select(F.col("id").alias("doc_id"), "n_fingerprints", "min_fp", "max_fp")


@register(
    "multimodal_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
    doc="Multimodal binary-column plumbing: opaque payload (text bytes stand in "
    "for image bytes) -> ingest-time metadata (byte length, sha256) as pure "
    "JVM column functions.",
)
def multimodal_metadata_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.lower(F.sha2(payload, 256)).alias("sha256"),
    )


# ---------------------------------------------------------------------------
# Quality-rule / mixture tier (Gopher-style repetition, blocklist scrub,
# deterministic domain-mixture resampling)
# ---------------------------------------------------------------------------

_BLOCKLIST = ["dup", "slow"]
_blk_in = ", ".join(f"'{t}'" for t in _BLOCKLIST)

# per-source target sampling rates (percent of md5 buckets kept): the
# training-mixture reweighting knob — heavier sources downsampled harder
_MIX_RATES = {"src0": 90, "src1": 90, "src2": 50, "src3": 50, "src4": 50}
_MIX_DEFAULT = 20


@register(
    "doc_rep_2gram_fraction",
    oracle=f"""
    WITH {_TOKS_SQL},
    pos2 AS (
      SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks
    ),
    g AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS gram FROM pos2
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT gram) AS n_distinct FROM g GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_frac
    FROM per_doc WHERE n_grams > 0
    """,
    doc="Gopher-style repetition quality rule: fraction of duplicated word "
    "2-grams per document (1 - distinct/total), all array ops at the row — "
    "no explode shuffle on the Spark side; high rep_frac marks boilerplate/"
    "spam for training-data filtering.  Gram array built once in its own "
    "projection so tokenize+shingle runs once per row, not per use.",
)
def rep_2gram_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    # n_grams > 0 <=> token count >= 2; filtering on the CHEAP token-count
    # predicate (instead of the computed gram array) matters because Catalyst
    # pushes deterministic filters below the repartition exchange — a filter
    # on `g` would re-evaluate the whole shingle expression in the pre-shuffle
    # (often single-split) scan task, serializing the heavy work
    docs = docs.filter(F.size(text.tokens(F.col("text"))) >= 2)
    grams = docs.select(
        "doc_id", text.word_shingles(text.tokens(F.col("text")), 2).alias("g")
    )
    return grams.select(
        "doc_id",
        F.size("g").alias("n_grams"),
        F.round(
            1.0 - F.size(F.array_distinct("g")).cast("double") / F.size("g"), 6
        ).alias("rep_frac"),
    )


@register(
    "doc_blocklist_scrub",
    oracle=f"""
    WITH {_TOKS_SQL},
    scrubbed AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_filter(t, x -> x NOT IN ({_blk_in}))) AS n_kept
      FROM toks
    )
    SELECT doc_id, n_tokens, n_tokens - n_kept AS n_removed
    FROM scrubbed WHERE n_tokens > n_kept
    """,
    doc="Blocklist scrubbing (bad-word removal, the filter step of a "
    "training-data pipeline): per-row array filter — narrow, no shuffle; "
    "returns only affected docs with removal counts for the audit trail.",
)
def blocklist_scrub_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    toked = docs.select("doc_id", text.tokens(F.col("text")).alias("t"))
    kept = F.filter(F.col("t"), lambda t: ~t.isin(_BLOCKLIST))
    out = toked.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_removed"),
    )
    return out.filter(F.col("n_removed") > 0)


@register(
    "source_mixture_resample",
    oracle=f"""
    WITH rated AS (
      SELECT source, lang,
             CASE source {' '.join(f"WHEN '{s}' THEN {r}" for s, r in _MIX_RATES.items())}
                  ELSE {_MIX_DEFAULT} END AS rate,
             {sampling.split_bucket_sql('doc_id')} AS bucket
      FROM documents
    )
    SELECT source, lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated GROUP BY source, lang
    """,
    doc="Deterministic domain-mixture resampling: per-source target rates "
    "(the training-mixture reweighting knob) applied via md5-bucket "
    "membership — reproducible across runs/engines/partitionings, kept set "
    "is nested as any rate rises; report = kept vs total per (source, lang).",
)
def source_mixture_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    rate = F.lit(_MIX_DEFAULT)
    for s, r in reversed(list(_MIX_RATES.items())):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    rated = docs.select(
        "source",
        "lang",
        rate.alias("rate"),
        sampling.split_bucket(F.col("doc_id")).alias("bucket"),
    )
    return rated.groupBy("source", "lang").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("bucket") < F.col("rate"), 1).otherwise(0)).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Decontamination / boilerplate / profiling / PII tier
# ---------------------------------------------------------------------------

_EVAL_MOD = 53   # doc_id % 53 == 0 -> the held-out benchmark stand-in (~2%)
_DECON_N = 3     # n-gram size for overlap detection
_DECON_MIN = 2   # min shared distinct n-grams to flag contamination


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {text.tokens_sql('text')} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - {_DECON_N - 1}, 0))) AS i
      FROM toks
    ),
    sh AS (
      SELECT DISTINCT doc_id, {hashing.md5_long32_sql(f"array_to_string(t[i:i+{_DECON_N - 1}], ' ')")} AS h
      FROM pos
    ),
    ev AS (SELECT doc_id, h FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, h FROM sh WHERE doc_id % {_EVAL_MOD} <> 0)
    SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev ON tr.h = ev.h
    GROUP BY tr.doc_id, ev.doc_id
    HAVING COUNT(*) >= {_DECON_MIN}
    """,
    doc=f"Test-set decontamination (the n-gram-overlap scan every training "
    f"pipeline runs before release): flag training docs sharing >= "
    f"{_DECON_MIN} distinct {_DECON_N}-grams with any held-out benchmark doc "
    f"(stand-in: doc_id % {_EVAL_MOD} == 0).  Inverted-index equi-join on the "
    f"gram hash — cost ∝ posting-list products, never |train| × |eval|; at "
    f"100 TB the eval side is tiny for real benchmark suites — but that is a "
    f"property of the INPUT, not of this operator, so no broadcast hint is "
    f"forced: AQE promotes the eval side to a broadcast join when its runtime "
    f"size is under the threshold and falls back to a shuffle join when a "
    f"caller hands in a large eval set.",
)
def decontaminate_q(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    sh = dedup.shingle_table(docs, text_col="text", id_col="doc_id", n=_DECON_N)
    ev = sh.filter(F.col("id") % _EVAL_MOD == 0).select(F.col("id").alias("eval_id"), "sh")
    tr = sh.filter(F.col("id") % _EVAL_MOD != 0).select(F.col("id").alias("train_id"), "sh")
    return (
        tr.join(ev, "sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _DECON_MIN)
    )


_BP_TOP = 20


@register(
    "boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {text.tokens_sql('text')} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i FROM toks
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram FROM pos
    ),
    df AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM g GROUP BY gram
    )
    SELECT gram, doc_freq FROM df
    ORDER BY doc_freq DESC, gram LIMIT {_BP_TOP}
    """,
    doc="Boilerplate detection (C4-style): the 5-grams appearing in the most "
    "documents — candidates for template/boilerplate stripping.  One "
    "distinct-(doc, gram) shuffle + one count shuffle; top-k is a single "
    "TakeOrdered, no global sort materialization.",
)
def boilerplate_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.word_shingles(text.tokens(F.col("text")), 5))
        ).alias("gram"),
    )
    df = grams.groupBy("gram").agg(F.count("*").cast("long").alias("doc_freq"))
    return df.orderBy(F.desc("doc_freq"), F.asc("gram")).limit(_BP_TOP)


@register(
    "token_length_histogram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({text.tokens_sql('text')}) AS n FROM documents
    )
    SELECT CAST((n // 10) * 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM toks GROUP BY (n // 10) * 10
    """,
    doc="Corpus length profile: token-count histogram in width-10 buckets "
    "(the sanity panel before any filtering decision) — one narrow "
    "map-side-combined groupBy over a row-local count.",
)
def token_histogram_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    n = F.size(text.tokens(F.col("text")))
    return (
        docs.select((F.floor(n / 10) * 10).cast("long").alias("bucket"), n.alias("n"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sum("n").cast("long").alias("total_tokens"))
    )


# the fixture corpus carries no real PII, so inject a deterministic synthetic
# contact line per doc in BOTH engines — the redaction logic is then actually
# exercised (non-zero counts) and cross-engine checked
def _pii_suffix_spark():
    # built lazily: Column construction needs an active SparkContext
    return F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or (555) 010-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or (555) 010-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "doc_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, text || {_PII_SUFFIX_SQL} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{text.PII_PATTERNS["email"]}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(raw, '{text.PII_PATTERNS["ssn"]}')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(raw, '{text.PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phone,
           {hashing.md5_long32_sql(
               "regexp_replace(regexp_replace(regexp_replace(raw, "
               f"'{text.PII_PATTERNS['email']}', '[EMAIL]', 'g'), "
               f"'{text.PII_PATTERNS['ssn']}', '[SSN]', 'g'), "
               f"'{text.PII_PATTERNS['phone']}', '[PHONE]', 'g')"
           )} AS redacted_hash
    FROM aug
    """,
    doc="PII scrubbing pass (redaction before training): RE2-safe email/SSN/"
    "phone regexes, per-kind match counts as the audit trail, and an md5 of "
    "the redacted text proving both engines produced byte-identical output.  "
    "Row-local regexp ops — no shuffle; the synthetic contact suffix exists "
    "because the fixture corpus has no organic PII.",
)
def pii_scrub_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    aug = docs.select("doc_id", F.concat(F.col("text"), _pii_suffix_spark()).alias("raw"))
    counts = text.pii_counts(F.col("raw"))
    return aug.select(
        "doc_id",
        counts["email"].cast("long").alias("n_email"),
        counts["ssn"].cast("long").alias("n_ssn"),
        counts["phone"].cast("long").alias("n_phone"),
        hashing.md5_long32(text.redact_pii(F.col("raw"))).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# CCNet-style line (segment) dedup: drop boilerplate segments shared across
# many documents, reassemble the scrubbed text
# ---------------------------------------------------------------------------

_SEG_LEN = 10   # tokens per pseudo-line (the fixture corpus has no newlines)
_SEG_DF = 3     # segments appearing in >= this many distinct docs are dropped


@register(
    "doc_line_dedup_scrub",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {text.tokens_sql('text')} AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(t[1 + {_SEG_LEN} * i : {_SEG_LEN} * (i + 1)], ' ') AS seg
      FROM toks
      CROSS JOIN generate_series(0, 200) AS g(i)
      WHERE {_SEG_LEN} * i < len(t)
    ),
    df AS (
      SELECT seg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM segs GROUP BY seg
    ),
    kept AS (
      SELECT s.doc_id, s.pos, s.seg, df.n_docs
      FROM segs s JOIN df ON s.seg = df.seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN n_docs >= {_SEG_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(string_agg(CASE WHEN n_docs < {_SEG_DF} THEN seg END, ' ' ORDER BY pos)) AS scrubbed_md5
    FROM kept GROUP BY doc_id
    """,
    doc=f"CCNet/C4-style line dedup: split each doc into fixed {_SEG_LEN}-token "
    "segments (the corpus has no newlines, so segments stand in for lines), "
    f"drop segments shared by >= {_SEG_DF} distinct docs (cross-corpus "
    "boilerplate), reassemble in order and fingerprint the scrubbed text.  "
    "One distinct + one doc-frequency groupBy on the segment hash + one "
    "join-back — no all-pairs anywhere; at 100 TB the df table is the only "
    "shuffled aggregate and it is segment-cardinality, not doc-cardinality.",
)
def line_dedup_q(spark, sf_dir):
    docs = parallelize_small_input(
        load_table(spark, "documents", sf_dir).select("doc_id", "text"), "doc_id"
    )
    t = text.tokens(F.col("text"))
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.size(t) - 1) / _SEG_LEN).cast("int")),
                lambda i: F.concat_ws(" ", F.slice(t, i * _SEG_LEN + 1, _SEG_LEN)),
            )
        ).alias("pos", "seg"),
    ).withColumn("pos", F.col("pos").cast("long"))
    df_tab = segs.groupBy("seg").agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    kept = segs.join(df_tab, "seg")
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum((F.col("n_docs") >= _SEG_DF).cast("long")).cast("long").alias("n_removed"),
        # a doc whose EVERY segment is boilerplate scrubs to nothing:
        # scrubbed_md5 is NULL then (the oracle's string_agg over zero
        # surviving segments is NULL; Spark's collect_list would silently
        # skip the nulls and hash '' instead — divergence first seen at
        # sf0.1, where fully-boilerplate docs actually occur)
        F.when(
            F.sum((F.col("n_docs") < _SEG_DF).cast("long")) > 0,
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("n_docs") < _SEG_DF, F.struct("pos", "seg"))
                            )
                        ),
                        lambda s: s.seg,
                    ),
                )
            ),
        ).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate the corpus token stream (doc_id order) and
# chunk into fixed-length training sequences
# ---------------------------------------------------------------------------

_PACK_C = 256  # tokens per packed training sequence


@register(
    "token_pack_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({text.tokens_sql('text')}) AS n FROM documents
    ),
    nz AS (SELECT doc_id, n FROM toks WHERE n > 0),
    c AS (
      SELECT doc_id, n,
             SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM nz
    ),
    spans AS (
      SELECT doc_id, n, cum, cum - n AS cum_prev,
             CAST((cum - n) // {_PACK_C} AS BIGINT) AS first_seq,
             CAST((cum - 1) // {_PACK_C} AS BIGINT) AS last_seq
      FROM c
    ),
    exploded AS (
      SELECT doc_id,
             CAST(unnest(generate_series(first_seq, last_seq)) AS BIGINT) AS seq_id,
             cum, cum_prev
      FROM spans
    )
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(least(cum, (seq_id + 1) * {_PACK_C}) - greatest(cum_prev, seq_id * {_PACK_C})) AS BIGINT) AS n_tokens
    FROM exploded GROUP BY seq_id
    """,
    doc=f"Sequence packing (LLM training-data prep): the corpus token stream "
    f"in doc_id order chunked into {_PACK_C}-token sequences; per sequence "
    "the number of contributing docs and tokens.  The global running total "
    "comes from operators/prefix.distributed_prefix_sum — range partition + "
    "local cumsum + driver-scanned per-partition offsets — NOT a "
    "single-partition window, so the shape survives 100 TB (the oracle uses "
    "the plain window form; integer sums make them bit-identical).",
)
def token_pack_q(spark, sf_dir):
    from us_equity_datalake_spark.operators.prefix import distributed_prefix_sum

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(text.tokens(F.col("text"))).cast("long").alias("n")
    ).filter(F.col("n") > 0)
    c = distributed_prefix_sum(docs, order_by="doc_id", value="n", out="cum")
    spans = c.select(
        "doc_id",
        "cum",
        (F.col("cum") - F.col("n")).alias("cum_prev"),
        F.floor((F.col("cum") - F.col("n")) / _PACK_C).alias("first_seq"),
        F.floor((F.col("cum") - 1) / _PACK_C).alias("last_seq"),
    )
    exploded = spans.select(
        "doc_id", "cum", "cum_prev",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    ).withColumn("seq_id", F.col("seq_id").cast("long"))
    return exploded.groupBy("seq_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.least(F.col("cum"), (F.col("seq_id") + 1) * _PACK_C)
            - F.greatest(F.col("cum_prev"), F.col("seq_id") * _PACK_C)
        ).cast("long").alias("n_tokens"),
    )


_HH_K = 5


@register(
    "top_terms_per_source",
    oracle=f"""
    WITH {_TOKS_SQL},
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT d.source, unnest(t) AS tok FROM toks JOIN documents d USING (doc_id))
      GROUP BY source, tok
    )
    SELECT source, tok, n, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rnk
      FROM tf
    ) WHERE rnk <= {_HH_K}
    """,
    doc=f"Per-group heavy hitters: top-{_HH_K} tokens per source by frequency "
    "— explode + one map-side-combined (source, token) count + per-source "
    "window rank.  The exact form; at 100 TB swap the exact count for a "
    "count-min/space-saving sketch per partition and merge (the groupBy "
    "shape is identical).  Deterministic tie-break on the token.",
)
def top_terms_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    from pyspark.sql import Window as W

    tf = (
        docs.select("source", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HH_K)
        .withColumn("rnk", F.col("rnk").cast("long"))
    )


# --- CCNet-style LM quality filter (Wenzek et al. 2020) -------------------

_PPL_HEAD, _PPL_MID = 4.5, 6.0  # avg-NLL band cuts on the rounded statistic


@register(
    "doc_lm_perplexity",
    oracle=f"""
    WITH {_TOKS_SQL},
    uni AS (
      SELECT w, COUNT(*) AS c_w FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tok, COUNT(*) AS v_size FROM uni),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
      FROM toks
    ),
    bg AS (SELECT doc_id, t[i] AS p, t[i+1] AS w FROM pos),
    big AS (SELECT p, w, COUNT(*) AS c_pw FROM bg GROUP BY p, w),
    ctx AS (SELECT p, CAST(SUM(c_pw) AS BIGINT) AS c_p FROM big GROUP BY p),
    terms AS (
      SELECT bg.doc_id, {lm.nll_term_sql()} AS nll
      FROM bg
      JOIN big USING (p, w) JOIN ctx USING (p) JOIN uni USING (w) CROSS JOIN tot
    ),
    scored AS (
      -- avg_nll = integer half-up in micro-units (tie-free: the double
      -- quotient can land exactly on a 6th-decimal half, where the two
      -- engines' ROUND disagree — mirrors operators/lm.py)
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(nll) AS DOUBLE) AS total_nll,
             CAST((2 * CAST(SUM(nll) * 1000000 AS BIGINT) + COUNT(*))
                  // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_nll
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, total_nll, avg_nll,
           CASE WHEN avg_nll < {_PPL_HEAD} THEN 'head'
                WHEN avg_nll < {_PPL_MID} THEN 'middle'
                ELSE 'tail' END AS ppl_band
    FROM scored
    """,
    doc="CCNet-style quality filter: corpus-trained bigram LM with "
    "interpolated add-alpha smoothing, per-doc avg negative log-likelihood "
    "(monotone in perplexity) and head/middle/tail band.  Train = 2 "
    "vocab-sized count aggs; score = one (p,w) shuffle join + AQE-broadcast "
    "vocab joins + one groupBy(doc).  Per-term round(ln,6)->DECIMAL keeps "
    "the sum order-independent across engines.",
)
def lm_perplexity_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    scored = lm.bigram_lm_perplexity(docs, text_col="text", id_col="doc_id")
    return scored.withColumn(
        "ppl_band",
        F.when(F.col("avg_nll") < _PPL_HEAD, F.lit("head"))
        .when(F.col("avg_nll") < _PPL_MID, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


# --- DSIR importance resampling (Xie et al. 2023) --------------------------

_DSIR_K = 100


@register(
    "dsir_resample_topk",
    oracle=f"""
    WITH ftoks AS (
      SELECT doc_id, (lang = 'en') AS is_tgt, {text.tokens_sql('text')} AS t
      FROM documents
    ),
    featu AS (SELECT doc_id, is_tgt, unnest(t) AS feat FROM ftoks),
    fpos AS (
      SELECT doc_id, is_tgt, t,
             unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
      FROM ftoks
    ),
    featb AS (SELECT doc_id, is_tgt, t[i] || ' ' || t[i+1] AS feat FROM fpos),
    feats AS (SELECT * FROM featu UNION ALL SELECT * FROM featb),
    fb AS (
      SELECT doc_id, is_tgt, {lm.dsir_bucket_sql('feat')} AS bucket,
             COUNT(*) AS c
      FROM feats GROUP BY 1, 2, 3
    ),
    model AS (
      SELECT bucket, CAST(SUM(c) AS BIGINT) AS c_q,
             CAST(SUM(CASE WHEN is_tgt THEN c ELSE 0 END) AS BIGINT) AS c_p
      FROM fb GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(c_q) AS BIGINT) AS n_q, CAST(SUM(c_p) AS BIGINT) AS n_p
      FROM model
    ),
    lrt AS (SELECT bucket, {lm.dsir_lr_u_sql()} AS lr_u FROM model CROSS JOIN tot),
    scored AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
             CAST(SUM(c * lr_u) AS BIGINT) AS logw_u
      FROM fb JOIN lrt USING (bucket) GROUP BY doc_id
    ),
    keyed AS (
      SELECT doc_id, n_feats, logw_u,
             logw_u + {lm.gumbel_key_u_sql('doc_id')} AS key_u
      FROM scored
    )
    SELECT doc_id, n_feats,
           ROUND(logw_u / 1000000.0, 6) AS logw,
           ROUND(key_u / 1000000.0, 6) AS sample_key
    FROM keyed ORDER BY key_u DESC, doc_id LIMIT {_DSIR_K}
    """,
    doc="DSIR data selection (Xie et al. 2023): hashed unigram+bigram "
    "bag-of-words models on target (lang='en') vs raw pool, per-doc log "
    "importance weight in exact BIGINT micro-units, deterministic "
    "Gumbel-top-k resample.  One feature pass feeds BOTH models via a "
    "conditional sum (bucket-sized output); scoring joins the AQE-broadcast "
    "log-ratio table; selection is TakeOrderedAndProject (no global sort).",
)
def dsir_resample_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    return lm.dsir_resample(docs, F.col("lang") == "en", k=_DSIR_K)


# --- Count-Min sketch heavy-hitter estimation -------------------------------

_CMS_TOPK = 20


def _cms_oracle() -> str:
    from us_equity_datalake_spark.operators import sketch as sk

    grid, probe_arr = sk.cms_sql("tstream", "term")
    h = hashing.md5_long32_sql("term")
    return f"""
    WITH {_TOKS_SQL},
    tstream AS (SELECT unnest(t) AS term FROM toks),
    exact AS (SELECT term, COUNT(*) AS exact_n FROM tstream GROUP BY term),
    top AS (SELECT * FROM exact ORDER BY exact_n DESC, term LIMIT {_CMS_TOPK}),
    grid AS ({grid}),
    pb AS (
      SELECT term, unnest({probe_arr}) AS bucket,
             unnest(range(0, {sk.CMS_DEPTH})) AS row_i
      FROM (SELECT term, {h} AS h FROM top)
    ),
    est AS (
      SELECT term, CAST(MIN(c) AS BIGINT) AS cms_n
      FROM pb JOIN grid USING (row_i, bucket) GROUP BY term
    )
    SELECT term, exact_n, cms_n, cms_n > exact_n AS inflated
    FROM top JOIN est USING (term)
    """


@register(
    "cms_heavy_hitters",
    oracle=_cms_oracle(),
    doc="Count-Min sketch (depth 4 x width 2048, universal md5 hashes) over "
    "the corpus token stream, probed with the exact top-20 terms: the "
    "estimate is min-over-rows, always >= the true count, and the grid is "
    "sketch-sized after partial aggregation however large the stream. "
    "Integer arithmetic end to end, so the approximate counts grade exactly "
    "against DuckDB.",
)
def cms_heavy_hitters_q(spark, sf_dir):
    from us_equity_datalake_spark.operators import sketch as sk

    docs = _docs_parallel(spark, sf_dir)
    tstream = docs.select(F.explode(text.tokens(F.col("text"))).alias("term"))
    exact = tstream.groupBy("term").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "term").limit(_CMS_TOPK)
    grid = sk.cms_sketch(tstream, "term")
    est = sk.cms_estimate(grid, top, "term")
    return top.join(est, "term").select(
        "term",
        "exact_n",
        "cms_n",
        (F.col("cms_n") > F.col("exact_n")).alias("inflated"),
    )


_BPE_MERGES = 12

from us_equity_datalake_spark.operators import bpe as _bpe  # noqa: E402


@register(
    "bpe_vocab_train",
    oracle=_bpe.bpe_train_sql("documents", "text", n_merges=_BPE_MERGES),
    doc="BPE tokenizer-vocabulary training (Sennrich et al. 2016) learned "
    "ON the corpus: the corpus is scanned ONCE into a word-count table, "
    f"then {_BPE_MERGES} merge rounds run on the VOCABULARY (bounded by "
    "language, not data — dimension-sized at 100 TB), each one vocab "
    "aggregation + a 1-row argmax with deterministic (count desc, pair "
    "lexicographic) tie-break.  The greedy within-word merge is a plain "
    "non-overlapping replace under the double-space padding trick, so the "
    "DuckDB oracle replays the identical string op through "
    f"{_BPE_MERGES} unrolled MATERIALIZED CTE rounds (non-materialized "
    "scalar-subquery chains re-evaluate exponentially — measured).  The "
    "graded rows are the ordered merge table, i.e. the tokenizer artifact "
    "itself; Spark-vs-pure-Python-reference parity is pinned in "
    "tests/test_bpe.py.",
)
def bpe_vocab_train_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    return _bpe.bpe_train(docs, text_col="text", n_merges=_BPE_MERGES)


@register(
    "bpe_encode_report",
    oracle=_bpe.bpe_encode_report_sql("documents", "text", n_merges=_BPE_MERGES),
    doc="The ENCODE half of the tokenizer: after the 12 learned merges, the "
    "corpus subword distribution (top-20 tokens by weighted frequency, "
    "deterministic token tie-break) — the fertility/coverage report a "
    "tokenizer-training run ends with.  Shares the train loop with "
    "bpe_vocab_train; the oracle replays the same unrolled MATERIALIZED "
    "rounds and aggregates the final segmentation.",
)
def bpe_encode_report_q(spark, sf_dir):
    docs = _docs_parallel(spark, sf_dir)
    _, vocab = _bpe._train(docs, "text", _BPE_MERGES)
    return _bpe.subword_counts(vocab, top_k=20)
