"""Filing-sentiment pipeline (SURVEY.md §2.10 N1–N6, §2.4 A10–A12, §2.11 F4).

Stages, Spark-first:

- N1 MD&A extraction + N2 HTML cleaning: regex-heavy sequential logic →
  vectorized pandas UDFs (Arrow-batched; per-document scalar work).
- N3 chunking (~1500 chars, 200 overlap, sentence-boundary snap in the last
  20%): inherently sequential per document → pandas UDF returning
  array<string>, then ``explode`` (the UDTF shape).
- N4 model inference: ``mapInPandas`` with a per-executor lazy model
  singleton (the reference's lazy ``load()`` pattern, models/finbert.py:87-188).
  The real FinBERT is gated behind an import-try (transformers is not in this
  image); ``HashSentimentModel`` is the deterministic stand-in so the whole
  pipeline is testable.
- A10 aggregation per filing: native aggregates reproducing the reference's
  formulas bit-for-bit (derived/sentiment.py:180-299), including its
  0.0-not-null conventions for single-chunk filings.
- A11 Loughran-McDonald category ratios + A12 readability: pure column
  expressions (split/strip/join-broadcast-set), no UDF.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

MODEL_NAME = "hash-sentiment"
MODEL_VERSION = "1.0.0"

# ---------------------------------------------------------------------------
# N1 — MD&A section extraction (collection/sentiment.py:60-79, 189-237)
# ---------------------------------------------------------------------------

# Patterns and search discipline mirror the reference exactly
# (collection/sentiment.py:61-79, 189-238): start patterns are tried in
# PRIORITY order (first pattern that matches anywhere wins — 10-K item 7
# forms before the 10-Q item 2 form), the section begins AFTER the heading
# (match.end()), and end patterns carry their qualifying words so a bare
# TOC "Item 8" inside the body can't truncate the section.
_MDNA_START = [
    r"(?i)item\s+7[\.\s:]*management['’]?s\s+discussion\s+and\s+analysis",
    r"(?i)item\s+7[\.\s:]*md\s*&\s*a",
    r"(?i)item\s+7[\.\s:]*management['’]?s\s+discussion",
    r"(?i)item\s+2[\.\s:]*management['’]?s\s+discussion\s+and\s+analysis",
    r"(?i)item\s+2[\.\s:]*md\s*&\s*a",
]
_MDNA_END = [
    r"(?i)item\s+7a[\.\s:]*quantitative\s+and\s+qualitative",
    r"(?i)item\s+8[\.\s:]*financial\s+statements",
    r"(?i)item\s+3[\.\s:]*quantitative\s+and\s+qualitative",
    r"(?i)item\s+4[\.\s:]*controls\s+and\s+procedures",
]
_MDNA_FALLBACK_CHARS = 100_000
_MDNA_MIN_LEN = 500


def extract_mdna(text: str) -> str | None:
    """First start pattern (priority order) → earliest end-pattern match
    after the heading; 100 KB fallback when no end found; None when the
    section is < 500 chars (reference extract_mda :189-238)."""
    if not text:
        return None
    start_match = None
    for pat in _MDNA_START:
        m = re.search(pat, text)
        if m:
            start_match = m
            break
    if start_match is None:
        return None
    after = text[start_match.end():]
    end = None
    for pat in _MDNA_END:
        m = re.search(pat, after)
        if m and (end is None or m.start() < end):
            end = m.start()
    section = after[:end] if end is not None else after[:_MDNA_FALLBACK_CHARS]
    return section if len(section) >= _MDNA_MIN_LEN else None


def clean_html(text: str) -> str:
    """N2: tag strip, entity decode, whitespace normalize."""
    import html as _html

    out = re.sub(r"<[^>]+>", " ", text or "")
    out = _html.unescape(out)
    return re.sub(r"\s+", " ", out).strip()


# ---------------------------------------------------------------------------
# N3 — chunking (derived/sentiment.py:70-117, exact port of semantics)
# ---------------------------------------------------------------------------


def chunk_text(text: str, chunk_size: int = 1500, overlap: int = 200) -> list[str]:
    if not text:
        return []
    if len(text) <= chunk_size:
        return [text]
    chunks = []
    start = 0
    while start < len(text):
        end = start + chunk_size
        if end < len(text):
            search_start = int(end - chunk_size * 0.2)
            search_text = text[search_start:end]
            for sep in [". ", ".\n", "! ", "? "]:
                last_sep = search_text.rfind(sep)
                if last_sep != -1:
                    end = search_start + last_sep + len(sep)
                    break
        chunk = text[start:end].strip()
        if chunk:
            chunks.append(chunk)
        start = end - overlap
        if start >= len(text):
            break
    return chunks


@F.pandas_udf(T.ArrayType(T.StringType()))
def chunk_text_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: chunk_text(t or ""))


@F.pandas_udf(T.StringType())
def extract_mdna_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: extract_mdna(clean_html(t or "")))


# ---------------------------------------------------------------------------
# N4 — model inference harness (mapInPandas, per-executor singleton)
# ---------------------------------------------------------------------------


class HashSentimentModel:
    """Deterministic stand-in for FinBERT: label/score from the chunk's md5.

    Same interface as the reference SentimentModel ABC
    (models/base.py:33-72): ``predict(texts) -> [(label, score), ...]``.
    """

    def predict(self, texts: list[str]) -> list[tuple[str, float]]:
        import hashlib

        out = []
        for t in texts:
            h = int(hashlib.md5((t or "").encode()).hexdigest()[:8], 16)
            label = ["positive", "negative", "neutral"][h % 3]
            score = 0.5 + (h % 5000) / 10000.0  # [0.5, 1.0)
            out.append((label, round(score, 4)))
        return out


class FinBertModel:
    """Real FinBERT over the public ``ProsusAI/finbert`` checkpoint
    (reference models/finbert.py:87-188): text-classification pipeline,
    truncation at 512 tokens, CUDA when available with CPU fallback, argmax
    label lowercased.  Import-gated — transformers/torch are not in this image,
    so construction raises ``NotImplementedError`` and callers fall back to
    ``HashSentimentModel`` (same ``predict`` contract, oracle-checkable)."""

    MODEL_ID = "ProsusAI/finbert"
    MAX_TOKENS = 512

    def __init__(self, device: str | None = None, batch_size: int = 32):
        try:
            import torch
            from transformers import pipeline
        except ImportError as e:
            raise NotImplementedError(
                "FinBERT requires transformers+torch; use HashSentimentModel for tests"
            ) from e
        if device is None:
            device = "cuda" if torch.cuda.is_available() else "cpu"
        self._batch_size = batch_size
        self._pipe = pipeline(
            "text-classification",
            model=self.MODEL_ID,
            device=0 if device == "cuda" else -1,
            truncation=True,
            max_length=self.MAX_TOKENS,
            top_k=None,
        )

    def predict(self, texts: list[str]) -> list[tuple[str, float]]:
        if not texts:
            return []
        outputs = self._pipe(texts, batch_size=self._batch_size)
        results = []
        for output in outputs:
            best = max(output, key=lambda x: x["score"])
            results.append((best["label"].lower(), float(best["score"])))
        return results


def finbert_model():
    """Factory matching ``model_factory`` in :func:`score_chunks`."""
    return FinBertModel()


_MODEL_SINGLETON: dict[str, object] = {}


def score_chunks(chunks_df: DataFrame, *, model_factory=HashSentimentModel, batch_size: int = 32) -> DataFrame:
    """(filing keys…, chunk) -> + (label, score).

    ``mapInPandas`` so the model loads once per executor (lazy singleton) and
    sees Arrow batches; partition sizing controls GPU memory in production.
    """
    schema = T.StructType(
        list(chunks_df.schema.fields)
        + [T.StructField("label", T.StringType()), T.StructField("score", T.DoubleType())]
    )

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key = model_factory.__name__
        model = _MODEL_SINGLETON.get(key)
        if model is None:
            model = _MODEL_SINGLETON.setdefault(key, model_factory())
        for pdf in batches:
            labels, scores = [], []
            texts = pdf["chunk"].tolist()
            for i in range(0, len(texts), batch_size):
                for lbl, sc in model.predict(texts[i : i + batch_size]):
                    labels.append(lbl)
                    scores.append(sc)
            yield pdf.assign(label=labels, score=scores)

    return chunks_df.mapInPandas(infer, schema)


# ---------------------------------------------------------------------------
# A11/A12 — LM word ratios + readability as column expressions
# ---------------------------------------------------------------------------

# Representative subsets of the public Loughran-McDonald master dictionary
# (sraf.nd.edu); production would broadcast the full lists.
LM_WORDS = {
    "uncertainty": [
        "may", "might", "could", "approximately", "uncertain", "uncertainty",
        "uncertainties", "assume", "assumes", "assumptions", "believe", "believes",
        "depend", "depends", "expect", "expects", "expected", "fluctuate", "risk",
        "risks", "possibly", "probable",
    ],
    "litigious": [
        "litigation", "lawsuit", "lawsuits", "plaintiff", "defendant", "court",
        "courts", "legal", "settlement", "settlements", "claims", "alleged",
        "allegations", "sue", "sued", "regulatory", "subpoena",
    ],
    "constraining": [
        "restrict", "restricted", "restriction", "restrictions", "limit", "limits",
        "limited", "limitation", "limitations", "covenant", "covenants", "require",
        "required", "requirement", "requirements", "obligation", "obligations",
        "prohibit", "prohibited",
    ],
    "weak_modal": ["may", "might", "could", "possibly", "perhaps", "maybe", "appears", "should"],
    "strong_modal": ["will", "must", "always", "never", "definitely", "clearly", "best", "highest"],
}


def _clean_words(text_col: Column) -> Column:
    """Reference tokenization (word_lists.py:283-341): lowercase whitespace
    split, strip surrounding punctuation per word, keep empties out."""
    words = F.split(F.lower(text_col), r"\s+")
    stripped = F.transform(words, lambda w: F.regexp_replace(w, r"""^[.,!?;:"'()\[\]{}]+|[.,!?;:"'()\[\]{}]+$""", ""))
    return F.filter(stripped, lambda w: w != "")


def lm_ratio_columns(text_col: Column) -> dict[str, Column]:
    """word_count + the 5 LM category ratios, round(…, 6) like the reference."""
    raw_words = F.split(F.lower(text_col), r"\s+")
    total = F.size(F.filter(raw_words, lambda w: w != ""))
    clean = _clean_words(text_col)
    out: dict[str, Column] = {"word_count": total.cast("double")}
    for cat, words in LM_WORDS.items():
        wset = F.array(*[F.lit(w) for w in sorted(set(words))])
        hits = F.size(F.filter(clean, lambda w: F.array_contains(wset, w)))
        out[f"{cat}_ratio"] = F.when(total > 0, F.round(hits / total, 6)).otherwise(F.lit(0.0))
    return out


def readability_columns(text_col: Column) -> dict[str, Column]:
    """avg_sentence_length (round 2) + Gunning Fog (round 2), reference
    derived/sentiment.py:120-172 heuristics (letters-only words, vowel-group
    syllables with silent-e / -ed/-es adjustments)."""
    words = F.filter(F.split(F.lower(text_col), r"[^a-z]+"), lambda w: w != "")
    word_count = F.size(words).cast("double")
    sentences = F.size(F.filter(F.split(text_col, r"[.!?]+(\s|$)"), lambda s: F.trim(s) != "")).cast("double")
    syll = lambda w: F.size(F.filter(F.split(w, r"[^aeiouy]+"), lambda v: v != ""))  # noqa: E731
    adj = (
        lambda w: syll(w)
        - F.when((syll(w) > 1) & w.rlike("e$"), 1).otherwise(0)
        - F.when((syll(w) > 1) & w.rlike("(ed|es)$"), 1).otherwise(0)
    )
    complex_count = F.size(F.filter(words, lambda w: adj(w) >= 3)).cast("double")
    avg_len = F.when((word_count > 0) & (sentences > 0), F.round(word_count / sentences, 2)).otherwise(F.lit(0.0))
    fog = F.when(
        (word_count > 0) & (sentences > 0),
        F.round(0.4 * (word_count / sentences + 100.0 * complex_count / word_count), 2),
    ).otherwise(F.lit(0.0))
    return {"avg_sentence_length": avg_len, "fog_index": fog}


# ---------------------------------------------------------------------------
# A10 — filing-level aggregation (derived/sentiment.py:180-299)
# ---------------------------------------------------------------------------

def aggregate_filing_sentiment(scored_chunks: DataFrame, filing_texts: DataFrame) -> DataFrame:
    """Chunk scores + full texts -> one wide row per filing with the 21
    metrics, matching the reference's rounding and 0.0 conventions."""
    signed = F.when(F.col("label") == "positive", F.col("score")).when(
        F.col("label") == "negative", -F.col("score")
    ).otherwise(F.lit(0.0))
    s = scored_chunks.withColumn("signed", signed)
    agg = s.groupBy("cik", "accession_number").agg(
        F.count("*").alias("chunk_count"),
        F.round(F.avg("signed"), 4).alias("sentiment_score"),
        F.round(F.avg((F.col("label") == "positive").cast("double")), 4).alias("positive_ratio"),
        F.round(F.avg((F.col("label") == "negative").cast("double")), 4).alias("negative_ratio"),
        F.round(F.avg((F.col("label") == "neutral").cast("double")), 4).alias("neutral_ratio"),
        F.round(F.coalesce(F.avg(F.when(F.col("label") == "positive", F.col("score"))), F.lit(0.0)), 4).alias(
            "avg_positive_confidence"
        ),
        F.round(F.coalesce(F.avg(F.when(F.col("label") == "negative", F.col("score"))), F.lit(0.0)), 4).alias(
            "avg_negative_confidence"
        ),
        # count guard, not coalesce: Spark stddev_samp of a 1-row group is NaN
        # (not null), and the reference returns 0.0 for single-chunk filings
        F.round(F.when(F.count("*") > 1, F.stddev_samp("signed")).otherwise(F.lit(0.0)), 4).alias("sentiment_std"),
        F.round(F.coalesce(F.max("signed") - F.min("signed"), F.lit(0.0)), 4).alias("sentiment_range"),
        F.avg("signed").alias("__mean_raw"),
        F.median("signed").alias("__median_raw"),
        F.stddev_samp("signed").alias("__std_raw"),
        F.round(F.avg((F.col("signed") < -0.5).cast("double")), 4).alias("extreme_negative_ratio"),
        F.round(F.when(F.count("*") > 1, F.stddev_samp("score")).otherwise(F.lit(0.0)), 4).alias("confidence_std"),
    )
    agg = agg.withColumn(
        "sentiment_skew",
        F.when(
            (F.col("chunk_count") > 1) & (F.col("__std_raw") > 0),
            F.round((F.col("__mean_raw") - F.col("__median_raw")) / F.col("__std_raw"), 4),
        ).otherwise(F.lit(0.0)),
    ).drop("__mean_raw", "__median_raw", "__std_raw")

    text_feats = filing_texts.select(
        "cik",
        "accession_number",
        F.col("filing_date"),
        F.col("filing_type"),
        F.length("text").cast("double").alias("text_length"),
        *[v.alias(k) for k, v in lm_ratio_columns(F.col("text")).items()],
        *[v.alias(k) for k, v in readability_columns(F.col("text")).items()],
    )
    return agg.join(text_feats, ["cik", "accession_number"], "inner")


# ---------------------------------------------------------------------------
# F4 — fiscal year/quarter inference (collection/sentiment.py:405-443)
# ---------------------------------------------------------------------------


def infer_fiscal(df: DataFrame, *, fy: str = "fy", fp: str = "fp", end: str = "period_end", frame: str = "frame") -> DataFrame:
    """Priority: explicit fy/fp -> period-end month -> frame regex CY(\\d{4})Q(\\d)."""
    fp_q = F.when(F.col(fp) == "FY", 4).otherwise(F.regexp_extract(F.col(fp), r"Q([1-4])", 1).cast("int"))
    month_q = F.ceil(F.month(F.col(end)) / 3).cast("int")
    frame_y = F.regexp_extract(F.col(frame), r"CY(\d{4})", 1).cast("int")
    frame_q = F.regexp_extract(F.col(frame), r"Q([1-4])", 1).cast("int")
    return df.withColumn(
        "fiscal_year", F.coalesce(F.col(fy).cast("int"), F.year(F.col(end)), frame_y)
    ).withColumn("fiscal_quarter", F.coalesce(fp_q, month_q, frame_q))
