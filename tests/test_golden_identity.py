"""The north-rule gate: Spark pipeline output must be byte-identical per url
to the golden fixtures (sha256 of NFC-normalized UTF-8 extracted text), with
doc_type and decision equality — plus a full differential check against the
oracle on every score component and the extracted-field map."""

from __future__ import annotations

import hashlib
import unicodedata

import pytest

from ocr_spark.fixtures.corpus import make_page, render_payload
from ocr_spark.oracle.reference_semantics import process_page
from ocr_spark.pipeline import run_pipeline


def _hash(text: str) -> str:
    return hashlib.sha256(unicodedata.normalize("NFC", text).encode("utf-8")).hexdigest()


@pytest.fixture(scope="module")
def pipeline_rows(spark, corpus_dir):
    df = run_pipeline(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/payloads.parquet",
    )
    return {r["url"]: r for r in df.collect()}


def test_every_url_present(pipeline_rows, goldens):
    assert set(pipeline_rows) == set(goldens)


def test_byte_identity_against_goldens(pipeline_rows, goldens):
    bad = []
    for url, g in goldens.items():
        r = pipeline_rows[url]
        if _hash(r["extracted_text"]) != g["text_sha256"]:
            bad.append(url)
    assert not bad, f"{len(bad)} urls with text hash mismatch, e.g. {bad[:3]}"


def test_doc_type_and_decision_match_goldens(pipeline_rows, goldens):
    for url, g in goldens.items():
        r = pipeline_rows[url]
        assert r["doc_type"] == g["doc_type"], url
        assert r["decision"] == g["decision"], url
        assert abs(r["final_score"] - g["final_score"]) < 1e-9, url


def test_full_differential_vs_oracle(pipeline_rows):
    """Stronger than the hash check: every score component and the field map
    must match the oracle exactly."""
    from tests.conftest import GOLDEN_ROWS

    for i in range(GOLDEN_ROWS):
        p = make_page(i)
        blob = render_payload(p["payload_text"]) if p["payload_text"] else None
        o = process_page(p["html"], blob)
        r = pipeline_rows[p["url"]]
        assert r["extracted_text"] == o["extracted_text"], f"doc {i} text"
        assert r["doc_type"] == o["doc_type"], f"doc {i} type"
        assert r["decision"] == o["decision"], f"doc {i} decision"
        assert bool(r["hard_rejection"]) == o["hard_rejection"], f"doc {i} hard"
        assert bool(r["multi_document"]) == o["multi_document"], f"doc {i} multi"
        assert bool(r["conflicting_schemas"]) == o["conflicting_schemas"], f"doc {i} conflict"
        assert abs(r["final_score"] - o["final_score"]) < 1e-9, f"doc {i} score"
        assert abs(r["quality_score"] - o["quality"]["composite_score"]) < 1e-9, f"doc {i} quality"
        assert r["quality_passed"] == o["quality"]["passed"], f"doc {i} gate"
        assert list(r["quality_reasons"]) == o["quality"]["failure_reasons"], f"doc {i} reasons"
        assert r["total_words"] == o["word_stats"]["total_words"], f"doc {i} words"
        assert abs(r["ocr_confidence_score"] - o["word_stats"]["ocr_confidence_score"]) < 1e-9, f"doc {i} ocr"
        assert abs(r["fuzzy_score"] - o["score_parts"]["fuzzy"]) < 1e-9, f"doc {i} fuzzy"
        assert abs(r["schema_score"] - o["score_parts"]["schema"]) < 1e-9, f"doc {i} schema"
        assert abs(r["distribution_score"] - o["score_parts"]["distribution"]) < 1e-9, f"doc {i} dist"
        of = {k: ("true" if v is True else str(v)) for k, v in o["fields"].items()}
        assert dict(r["extracted_fields"]) == of, f"doc {i} fields"


def test_multi_doc_and_conflict_branches_exercised(pipeline_rows, goldens):
    """The decision chain's REVIEW-on-multi-document and reject-on-
    conflicting-schemas branches must be live end-to-end: the corpus carries
    fixtures that reach each, and the Spark pipeline agrees with the golden
    flags (reference pipeline.py:170-197 / spatial_validator.py:150-187)."""
    multi_review = [
        u for u, g in goldens.items()
        if g["multi_document"] and not g["conflicting_schemas"] and g["decision"] == "review"
    ]
    conflict_reject = [
        u for u, g in goldens.items()
        if g["conflicting_schemas"] and g["decision"] == "reject"
    ]
    assert multi_review, "no REVIEW-on-multi-document fixture in the corpus"
    assert conflict_reject, "no reject-on-conflict fixture in the corpus"
    for u in multi_review:
        assert pipeline_rows[u]["multi_document"] and pipeline_rows[u]["decision"] == "review"
    for u in conflict_reject:
        assert pipeline_rows[u]["conflicting_schemas"] and pipeline_rows[u]["decision"] == "reject"


def test_salt_partition_invariance(spark, corpus_dir, goldens):
    """Same input at a different salt width must produce identical bytes —
    partition-layout independence is what makes the N vs 4N scaling claim
    meaningful."""
    df = run_pipeline(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/payloads.parquet",
        salt_partitions=3,
    )
    for r in df.select("url", "extracted_text").collect():
        assert _hash(r["extracted_text"]) == goldens[r["url"]]["text_sha256"]
