"""Text-analysis column functions — all JVM-side (no Python UDFs).

Covers the reference's text surface (tokenize/word-category counting,
derived/word_lists.py:283-341; its readability formulas are
``equity.sentiment.readability_columns``) plus the training-data-pipeline
operators (language ID, quality scoring, token counting, shingling for
near-dup detection).

Every function here has a DuckDB-SQL twin used by the oracle; keep the two in
lockstep (tokenization regex, empty-token filtering, shingle join character).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN_SPLIT_RE = r"[^a-z0-9]+"

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic. Chosen from high-frequency function words.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "y", "en", "que", "los", "una", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "pour", "dans"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "zh": ["de", "shi", "le", "zai", "wo", "you", "he", "ren", "zhe", "zhong"],
}

EN_STOPWORDS = set(LANG_STOPWORDS["en"])


def tokens(col: Column) -> Column:
    """Lowercased alnum tokens, empty strings removed.

    DuckDB twin: ``list_filter(regexp_split_to_array(lower(x),'[^a-z0-9]+'), t -> t <> '')``.
    """
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({expr}), '[^a-z0-9]+'), t -> t <> '')"


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# GPT-2-style pre-tokenizer pattern, RE2-compatible: the upstream pattern's
# trailing `\s+(?!\S)` lookahead is unsupported by DuckDB's RE2, so whitespace
# runs count as one piece instead of splitting the final space onto the next
# word — a BPE-ish ESTIMATOR for budgeting/packing, not a tokenizer claim.
# Kept byte-identical across Spark (Java regex) and DuckDB (RE2); parity over
# contractions, unicode letters/digits, punctuation runs and CJK is pinned by
# the doc_subword_stats oracle and a golden test.  Whitespace is the EXPLICIT
# class [ \t\n\f\r\x0b], never `\s`: Java's \s includes vertical tab U+000B
# while RE2's \s is [\t\n\f\r ] — a bare \s silently diverges on VT input
# (r5 ADVICE finding; the VT arm in test_extensions pins this).
_WS = r" \t\n\f\r\x0b"
BPE_ISH_RE = (
    r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+"
    rf"| ?[^{_WS}\p{{L}}\p{{N}}']+|[{_WS}]+"
)


def subword_count(col: Column) -> Column:
    """BPE-ish subword-piece count (GPT-2 pre-tokenizer classes) — the
    standard ~chars/4 'token budget' estimator, exact in both engines."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_RE), F.lit(0)))


def subword_count_sql(expr: str) -> str:
    pat = BPE_ISH_RE.replace("'", "''")
    return f"len(regexp_extract_all({expr}, '{pat}'))"


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-word shingles joined by a single space; empty array when < n tokens.

    DuckDB twin: lateral ``generate_series(1, len(t)-n+1)`` + ``array_to_string(t[i:i+n-1],' ')``.

    Guarded for short docs: Spark's ``sequence(1, 0)`` is *descending*
    (``[1, 0]``), which would fabricate two phantom shingles for a doc with
    fewer than ``n`` tokens, while DuckDB's ``generate_series(1, 0)`` is
    empty.  Branch to an empty array explicitly so both engines agree.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alnum/space (null-safe, 0 for empty)."""
    total = F.length(col)
    alnum = F.length(F.regexp_replace(col, r"[^A-Za-z0-9 ]", ""))
    return F.when(total > 0, (total - alnum) / total).otherwise(F.lit(0.0))


def stopword_ratio(toks: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in sorted(stopwords or EN_STOPWORDS)])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_len(toks: Column) -> Column:
    return F.when(
        F.size(toks) > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


def quality_score(text_col: Column) -> Column:
    """Composite heuristic quality score in [0,1]-ish (reference analog: the
    length/punct/stopword gates of derived/word_lists.py + common web-data
    quality filters).  Deterministic, oracle-replicable:

        0.4 * min(n_tokens/100, 1) + 0.3 * (1 - punct_ratio)
      + 0.3 * min(stopword_ratio * 4, 1)
    """
    toks = tokens(text_col)
    n = F.size(toks).cast("double")
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - punct_ratio(text_col)
    sw_term = F.least(stopword_ratio(toks) * 4, F.lit(1.0))
    return F.round(0.4 * len_term + 0.3 * punct_term + 0.3 * sw_term, 6)


# ---------------------------------------------------------------------------
# PII scrubbing (training-data-pipeline redaction pass).  Patterns are kept
# RE2-compatible (no backrefs/lookarounds) so the DuckDB oracle twin applies
# the exact same regexes; each has a SQL-side literal in PII_PATTERNS_SQL.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — deliberately simple; production lists are longer but
    # the plumbing (ordered multi-pattern redaction, per-kind counts) is this
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "phone": r"\(\d{3}\) \d{3}-\d{4}",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts (the audit trail of a redaction pass)."""
    return {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column) -> Column:
    """Replace every PII match with ``[KIND]``, applied in a fixed kind order
    so overlapping patterns resolve deterministically in both engines."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{kind.upper()}]")
    return out
