"""Sentiment pipeline tests: chunking semantics, deterministic-model scoring,
filing aggregation goldens (FIXTURES.md §8: fixed (label, score) chunk lists,
reference formulas derived/sentiment.py:180-299)."""

import datetime as dt
import statistics

import pytest
from pyspark.sql import Row

from us_equity_datalake_spark.equity.sentiment import (
    HashSentimentModel,
    aggregate_filing_sentiment,
    chunk_text,
    extract_mdna,
    score_chunks,
)


def test_chunk_short_text_single_chunk():
    assert chunk_text("hello world") == ["hello world"]
    assert chunk_text("") == []


def test_chunk_long_text_overlap():
    text = ("Lorem ipsum dolor sit amet. " * 100).strip()  # ~2800 chars
    chunks = chunk_text(text)
    assert len(chunks) >= 2
    assert all(len(c) <= 1500 for c in chunks)
    # 200-char overlap: consecutive chunks share content
    assert chunks[0][-50:] in text and chunks[1][:50] in text


def test_chunk_sentence_boundary_snap():
    text = "A" * 1400 + ". " + "B" * 1000
    chunks = chunk_text(text)
    # first chunk should end at the sentence boundary inside the last 20%
    assert chunks[0].endswith(".")


def test_extract_mdna_patterns():
    filing = ("intro " * 50 + "Item 7. Management's Discussion and Analysis "
              + "body " * 300 + "Item 7A. Quantitative and Qualitative Disclosures")
    section = extract_mdna(filing)
    assert section is not None
    # reference semantics: the section starts AFTER the heading (match.end())
    assert section.strip().startswith("body")
    assert "item 7a" not in section.lower()
    assert "management" not in section.lower()


def test_extract_mdna_priority_and_qualified_ends():
    # 10-K heading wins over an EARLIER 10-Q-style item 2 mention
    # (pattern-priority order, reference sentiment.py:202-206)
    filing = ("Item 2. Management's Discussion and Analysis (TOC) ... filler ... "
              + "Item 7. Management's Discussion and Analysis " + "real body " * 100
              + "Item 8. Financial Statements")
    section = extract_mdna(filing)
    assert section is not None and section.strip().startswith("real body")
    # a bare unqualified 'Item 8' mention inside the body must NOT truncate
    filing2 = ("Item 7. Management's Discussion and Analysis "
               + "body mentions Item 8 here without the magic words " * 30
               + "Item 8. Financial Statements and Supplementary Data tail")
    section2 = extract_mdna(filing2)
    assert section2 is not None
    assert "without the magic words" in section2
    assert "Supplementary" not in section2


def test_extract_mdna_min_length_guard():
    assert extract_mdna("Item 7. Management's Discussion tiny") is None


def _agg(spark, labeled):
    chunks = spark.createDataFrame(
        [Row(cik="0001", accession_number="acc-1", chunk=f"c{i}", label=l, score=s)
         for i, (l, s) in enumerate(labeled)]
    )
    texts = spark.createDataFrame(
        [Row(cik="0001", accession_number="acc-1", filing_date=dt.date(2024, 5, 1),
             filing_type="10-K", text="The company may face litigation risks. Results improved.")]
    )
    rows = aggregate_filing_sentiment(chunks, texts).collect()
    assert len(rows) == 1
    return rows[0]


def test_aggregation_goldens(spark):
    labeled = [("positive", 0.9), ("negative", 0.8), ("neutral", 0.7), ("negative", 0.6)]
    signed = [0.9, -0.8, 0.0, -0.6]
    r = _agg(spark, labeled)
    assert r["sentiment_score"] == pytest.approx(round(sum(signed) / 4, 4))
    assert r["positive_ratio"] == 0.25
    assert r["negative_ratio"] == 0.5
    assert r["neutral_ratio"] == 0.25
    assert r["avg_positive_confidence"] == 0.9
    assert r["avg_negative_confidence"] == pytest.approx(0.7)
    assert r["chunk_count"] == 4
    assert r["sentiment_std"] == pytest.approx(round(statistics.stdev(signed), 4))
    assert r["sentiment_range"] == pytest.approx(round(max(signed) - min(signed), 4))
    mean, med, std = statistics.mean(signed), statistics.median(signed), statistics.stdev(signed)
    assert r["sentiment_skew"] == pytest.approx(round((mean - med) / std, 4))
    assert r["extreme_negative_ratio"] == 0.5  # signed < -0.5: [-0.8, -0.6]
    assert r["confidence_std"] == pytest.approx(round(statistics.stdev([0.9, 0.8, 0.7, 0.6]), 4))


def test_single_chunk_zero_conventions(spark):
    """Reference: single-chunk filings get 0.0 std/range/skew, not null."""
    r = _agg(spark, [("positive", 0.9)])
    assert r["sentiment_std"] == 0.0
    assert r["sentiment_range"] == 0.0
    assert r["sentiment_skew"] == 0.0
    assert r["confidence_std"] == 0.0


def test_word_ratios_and_readability(spark):
    r = _agg(spark, [("positive", 0.9)])
    # 8 whitespace words: uncertainty hits {may, risks}, litigious {litigation},
    # weak-modal {may}
    assert r["word_count"] == 8.0
    assert r["uncertainty_ratio"] == pytest.approx(round(2 / 8, 6))
    assert r["litigious_ratio"] == pytest.approx(round(1 / 8, 6))
    assert r["weak_modal_ratio"] == pytest.approx(round(1 / 8, 6))
    assert r["avg_sentence_length"] == pytest.approx(4.0)  # 8 words / 2 sentences
    assert r["fog_index"] > 0


def test_score_chunks_deterministic_singleton(spark):
    chunks = spark.createDataFrame([Row(cik="1", accession_number="a", chunk=f"text {i}") for i in range(10)])
    out1 = {r["chunk"]: (r["label"], r["score"]) for r in score_chunks(chunks).collect()}
    out2 = {r["chunk"]: (r["label"], r["score"]) for r in score_chunks(chunks).collect()}
    assert out1 == out2  # deterministic across runs
    model = HashSentimentModel()
    expected = dict(zip([f"text {i}" for i in range(10)], model.predict([f"text {i}" for i in range(10)])))
    assert out1 == expected  # distributed result == local model


def test_finbert_gate_or_load():
    """FinBertModel loads the public ProsusAI/finbert checkpoint when
    transformers+torch are installed; in this image it must raise the
    documented NotImplementedError gate (never a silent fake)."""
    import pytest
    from us_equity_datalake_spark.equity.sentiment import FinBertModel

    try:
        import transformers  # noqa: F401
        import torch  # noqa: F401
        have_hf = True
    except ImportError:
        have_hf = False

    if not have_hf:
        with pytest.raises(NotImplementedError):
            FinBertModel()
    else:  # pragma: no cover - exercised only where the libs exist
        model = FinBertModel(device="cpu")
        out = model.predict(["Revenue increased strongly this quarter."])
        assert out and out[0][0] in {"positive", "negative", "neutral"}
        assert 0.0 <= out[0][1] <= 1.0


def test_finbert_real_model_contract():
    """Gated integration test (VERDICT r2 Next #7): in any environment with
    transformers+torch installed this exercises the REAL ProsusAI/finbert
    path (reference models/finbert.py:87-188) and asserts the predict()
    contract that score_chunks and HashSentimentModel rely on: one
    (lowercase label in {positive, negative, neutral}, float score in (0, 1])
    tuple per input, order-aligned.  Skipped in-sandbox (no transformers)."""
    pytest.importorskip("transformers")
    pytest.importorskip("torch")
    from us_equity_datalake_spark.equity.sentiment import FinBertModel, HashSentimentModel

    texts = [
        "The company reported record profits and raised full-year guidance.",
        "The company filed for bankruptcy after defaulting on its debt.",
    ]
    model = FinBertModel(device="cpu", batch_size=2)
    out = model.predict(texts)
    ref = HashSentimentModel().predict(texts)
    assert len(out) == len(ref) == 2
    for (label, score), (ref_label, ref_score) in zip(out, ref):
        # identical CONTRACT as the hash stand-in: types, label domain, range
        assert isinstance(label, str) and label == label.lower()
        assert label in {"positive", "negative", "neutral"}
        assert isinstance(score, float) and 0.0 < score <= 1.0
        assert isinstance(ref_label, str) and isinstance(ref_score, float)
    assert model.predict([]) == []
    # directional sanity on unambiguous sentences
    assert out[0][0] == "positive" and out[1][0] == "negative"
