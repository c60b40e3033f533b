"""A5-A11 + decision — validation scores, 10-component confidence, and the
Accept/Review/Reject CASE chain as native expressions.

Everything is JVM-side except the fuzzy-anchor fallback (A5), whose
rapidfuzz-style partial_token_sort_ratio has no Catalyst equivalent: that one
runs the oracle's per-document anchor_score in an Arrow-batched pandas UDF
(substring first, as reference validation/anchors.py:44-71 does).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ocr_spark import config as C
from ocr_spark.oracle import reference_semantics as R


# ---------------------------------------------------------------------------
# A5 — fuzzy anchor score (anchors.py:18-94), Arrow-batched
# ---------------------------------------------------------------------------

@F.pandas_udf(DoubleType())
def _anchor_score_udf(text: pd.Series, doc_type: pd.Series) -> pd.Series:
    # The oracle's per-document rule, row by row; a NULL text scores 0.
    return pd.Series([0.0 if t is None else R.anchor_score(t, dt)
                      for t, dt in zip(text, doc_type)])


def anchor_score(text: Column, doc_type: Column) -> Column:
    return _anchor_score_udf(text, doc_type)


# ---------------------------------------------------------------------------
# A6 — token distribution score (distribution.py:17-68), native
# ---------------------------------------------------------------------------

def char_class_counts(text: Column) -> dict[str, Column]:
    """The three char-class counts A6/F11 share. Callers on the hot path
    should materialize these as their own columns (one select) before
    building scores: interpreted projections have no cross-column CSE, so
    an inlined count is re-run per reference — these regexp scans are the
    dominant cost of the distribution/nar family when inlined."""
    total = F.length(text)
    # Python isdigit / isalnum are Unicode-aware -> \p{N} / \p{L}\p{N}.
    numeric = total - F.length(F.regexp_replace(text, r"\p{N}", ""))
    special = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    return {"total": total, "numeric": numeric, "special": special}


def distribution_score(text: Column, doc_type: Column) -> Column:
    c = char_class_counts(text)
    return distribution_score_from_counts(
        doc_type, c["total"], c["numeric"], c["special"])


def distribution_score_from_counts(
    doc_type: Column, total: Column, numeric: Column, special: Column
) -> Column:
    nr = numeric / total
    sr = special / total
    out: Column = F.lit(None).cast("double")
    chain = None
    for dt, prof in C.DISTRIBUTION_PROFILES.items():
        mn, mxs = prof["min_numeric_ratio"], prof["max_special_char_ratio"]
        score = (
            F.lit(1.0)
            - F.when(nr < mn, (mn - nr) / mn * C.DIST_NUMERIC_PENALTY).otherwise(F.lit(0.0))
            - F.when(sr > mxs, (sr - mxs) / (1.0 - mxs) * C.DIST_SPECIAL_PENALTY).otherwise(F.lit(0.0))
        )
        branch = F.greatest(F.lit(0.0), score)
        chain = F.when(doc_type == dt, branch) if chain is None else chain.when(doc_type == dt, branch)
    out = chain.otherwise(F.lit(1.0))  # no profile -> pass (distribution.py:31)
    return F.when(total == 0, F.lit(0.0)).otherwise(out)


# ---------------------------------------------------------------------------
# A8 — weighted schema score (pipeline.py:564-589), native
# ---------------------------------------------------------------------------

def schema_score(doc_type: Column, fields: dict[str, Column]) -> Column:
    chain = None
    for dt, weights in C.FIELD_WEIGHTS.items():
        total = sum(weights.values())
        got: Column = F.lit(0.0)
        for fname, w in weights.items():
            got = got + F.when(fields[fname].isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
        branch = got / total
        chain = F.when(doc_type == dt, branch) if chain is None else chain.when(doc_type == dt, branch)
    return chain.otherwise(F.lit(1.0))


def mandatory_present(doc_type: Column, fields: dict[str, Column]) -> Column:
    chain = None
    for dt, req in C.REQUIRED_FIELDS.items():
        branch: Column = F.lit(True)
        for fname in req:
            branch = branch & fields[fname].isNotNull()
        chain = F.when(doc_type == dt, branch) if chain is None else chain.when(doc_type == dt, branch)
    return chain.otherwise(F.lit(False))


def missing_critical(doc_type: Column, fields: dict[str, Column]) -> Column:
    """pipeline.py:390-403 — array of critical (weight >= 0.25) missing fields."""
    chain = None
    for dt, weights in C.FIELD_WEIGHTS.items():
        branch = F.filter(
            F.array(*[
                F.when(fields[fname].isNull(), F.lit(fname))
                for fname, w in weights.items() if w >= C.CRITICAL_FIELD_WEIGHT
            ]),
            lambda x: x.isNotNull(),
        )
        chain = F.when(doc_type == dt, branch) if chain is None else chain.when(doc_type == dt, branch)
    return chain.otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# F11 — non-alphanumeric ratio (pipeline.py:609-624), native
# ---------------------------------------------------------------------------

def non_alnum_ratio(text: Column) -> Column:
    c = char_class_counts(text)
    return non_alnum_ratio_from_counts(c["total"], c["special"])


def non_alnum_ratio_from_counts(total: Column, special: Column) -> Column:
    # 1 - (total - special)/total == special/total, kept in the reference's
    # subtraction form for bit-exact FP parity (pipeline.py:609-624).
    return F.when(total == 0, F.lit(0.0)).otherwise(1.0 - (total - special) / total)


# ---------------------------------------------------------------------------
# A10 — 10-component weighted confidence (confidence.py:87-155), native
# ---------------------------------------------------------------------------

def final_confidence(parts: dict[str, Column]) -> Column:
    w = C.SCORE_WEIGHTS
    num = (
        w["image_quality"] * parts["image_quality"]
        + w["ocr_confidence"] * parts["ocr_confidence"]
        + w["regex_match"] * parts["regex"]
        + w["fuzzy_match"] * parts["fuzzy"]
        + w["layout_validity"] * parts["layout"]
        + w["kv_match"] * parts["kv"]
        + w["consistency"] * parts["consistency"]
        + w["schema_completeness"] * parts["schema"]
        + w["distribution"] * parts["distribution"]
        + w["spatial_compactness"] * parts["spatial"]
    )
    total = sum(w.values())
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), num / F.lit(total)))


# ---------------------------------------------------------------------------
# Conflicting-schema detection — text analog of the field-cluster spread
# (spatial_validator.py:150-187): two far-apart clusters of one schema's
# field boxes become, in DOM-text land, two DISTINCT core ids of the
# classified type on one page.
# ---------------------------------------------------------------------------

def distinct_core_ids(text: Column, doc_type: Column) -> Column:
    """Count of distinct normalized core-id matches for the classified type
    (config.CORE_ID_PATTERNS). VID-prefixed digit groups are matched-and-
    filtered, never counted; separators are stripped before the distinct so
    a spaced and a continuous rendering of one id count once."""
    chain = None
    for dt, pat in C.CORE_ID_PATTERNS.items():
        ids = F.array_distinct(
            F.transform(
                F.filter(
                    F.regexp_extract_all(text, F.lit(pat), F.lit(0)),
                    lambda m: ~m.startswith("VID"),
                ),
                lambda m: F.regexp_replace(m, r"[-\s]", ""),
            )
        )
        branch = F.size(ids)
        chain = F.when(doc_type == dt, branch) if chain is None else chain.when(doc_type == dt, branch)
    return chain.otherwise(F.lit(0))


# ---------------------------------------------------------------------------
# Decision CASE chain (decision.py:84-201) — exact hard-reject precedence
# ---------------------------------------------------------------------------

def decision_columns(
    final_score: Column,
    quality_passed: Column,
    text_detected: Column,
    mandatory: Column,
    non_alnum: Column,
    multi_document: Column,
    conflicting_schemas: Column,
    has_business_failures: Column,
) -> dict[str, Column]:
    decision = (
        F.when(~text_detected, F.lit("reject"))
        .when(~quality_passed, F.lit("reject"))
        .when(~mandatory, F.lit("reject"))
        .when(non_alnum > C.MAX_NON_ALPHANUMERIC, F.lit("reject"))
        .when(conflicting_schemas, F.lit("reject"))
        .when(multi_document, F.lit("review"))
        .when(final_score >= C.ACCEPT_THRESHOLD,
              F.when(has_business_failures, F.lit("review")).otherwise(F.lit("accept")))
        .when(final_score >= C.REVIEW_THRESHOLD, F.lit("review"))
        .otherwise(F.lit("reject"))
    )
    hard = (
        (~text_detected)
        | (text_detected & ~quality_passed)
        | (text_detected & quality_passed & ~mandatory)
        | (text_detected & quality_passed & mandatory & (non_alnum > C.MAX_NON_ALPHANUMERIC))
        | (text_detected & quality_passed & mandatory
           & (non_alnum <= C.MAX_NON_ALPHANUMERIC) & conflicting_schemas)
    )
    return {"decision": decision, "hard_rejection": hard}
