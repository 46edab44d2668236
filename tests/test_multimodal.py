"""Multimodal binary-column plumbing: the registered metadata query computes
byte length and sha256 of an opaque payload with JVM column functions."""

import hashlib
import os

from us_equity_datalake_spark.plans import REGISTRY
from us_equity_datalake_spark.sources.registry import DEFAULT_SF_DIR, load_table

SF_TINY = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")  # the smallest generated sf


def test_metadata_extraction_jvm_side(spark):
    out = {
        r["doc_id"]: (r["n_bytes"], r["sha256"])
        for r in REGISTRY["multimodal_binary_metadata"].fn(spark, SF_TINY).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in load_table(spark, "documents", SF_TINY).collect()}
    assert out and out.keys() == texts.keys()
    for doc_id, text in texts.items():
        payload = text.encode("utf-8")
        assert out[doc_id] == (len(payload), hashlib.sha256(payload).hexdigest())
