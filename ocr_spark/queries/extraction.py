"""Extraction and scoring: the reference-semantics suite over the synthetic
ID-document corpus (``ocr_spark.synth`` builds byte-identical texts in both
engines), classification, field extraction, the scoring + decision pipeline
(``score_and_decide``, ``golden_pipeline``, ``flagship``), PDF/OCR layout
operators, and geometry over deterministic synthetic boxes and points
(SURVEY.md §2.3 J3, §2.4 A12-A14, §2.5 W3).
"""

from __future__ import annotations

import os
import string as _string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark import config as C
from ocr_spark import oracle_sql as OSQL
from ocr_spark.casespec import case_col, case_sql
from ocr_spark.functions.classify import classify
from ocr_spark.functions.extractors import FIELD_BUILDERS
from ocr_spark.functions.normalize import normalize_date
from ocr_spark.functions.quality import quality_columns
from ocr_spark.functions.scoring import (
    anchor_score,
    char_class_counts,
    decision_columns,
    distribution_score_from_counts,
    final_confidence,
    non_alnum_ratio_from_counts,
)
from ocr_spark.functions.wordstats import split_words
from ocr_spark.oracle_sql import dbl
from ocr_spark.queries.registry import _DOC_ID, _cpu, _t, query
from ocr_spark.synth import SYNTH_CORPUS_SQL, synth_corpus


@query("synth_corpus", SYNTH_CORPUS_SQL)
def q_synth_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base check: both engines must build the exact same document texts."""
    return synth_corpus(spark, sf_dir)


def _mode_corpus_sql(mode: int) -> str:
    return f"SELECT doc_id, text FROM ({SYNTH_CORPUS_SQL}) WHERE mode = {mode}"


def _synth_with_words(spark: SparkSession, sf_dir: str, mode: int) -> DataFrame:
    df = synth_corpus(spark, sf_dir).filter(F.col("mode") == mode)
    return df.select(
        "doc_id",
        F.col("text"),
        split_words(F.col("text")).alias("words"),
        F.when(F.length("text") == 0, F.array().cast("array<string>"))
        .otherwise(F.split("text", "\n"))
        .alias("lines"),
    )


@query("extract_aadhaar", OSQL.aadhaar_fields_sql(_mode_corpus_sql(0)))
def q_extract_aadhaar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1-X10: all aadhaar extraction strategies over the synthetic corpus.
    The Devanagari fold is materialized ONCE (multi-referenced columns are
    not inlined by CollapseProject) and shared by the four folding fields —
    the projection runs interpreted, which has no cross-column CSE."""
    from ocr_spark.functions.normalize import devanagari_to_arabic

    df = _synth_with_words(spark, sf_dir, 0).withColumn(
        "arab", devanagari_to_arabic(F.col("text"))
    )
    fields = FIELD_BUILDERS["aadhaar"](
        F.col("text"), F.col("words"), F.col("lines"), arab=F.col("arab")
    )
    return df.select("doc_id", *[c.cast("string").alias(n) for n, c in fields.items()])


@query("extract_pan", OSQL.pan_fields_sql(_mode_corpus_sql(1)))
def q_extract_pan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11-X15: strict/ambiguous/fuzzy-corrected/loose PAN extraction."""
    df = _synth_with_words(spark, sf_dir, 1)
    fields = FIELD_BUILDERS["pan"](F.col("text"), F.col("words"), F.col("lines"))
    return df.select("doc_id", *[c.cast("string").alias(n) for n, c in fields.items()])


_RC_FIELDS = [
    "registration_number", "owner_name", "engine_number", "chassis_number",
    "fuel_type", "vehicle_class", "seating_capacity",
]


@query("extract_vehicle_rc", OSQL.rc_fields_sql(_mode_corpus_sql(2)))
def q_extract_rc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16-X18: registration-number ambiguity guard + RC field extraction."""
    df = _synth_with_words(spark, sf_dir, 2)
    fields = FIELD_BUILDERS["vehicle_rc"](F.col("text"), F.col("words"), F.col("lines"))
    return df.select("doc_id", *[fields[n].cast("string").alias(n) for n in _RC_FIELDS])


def _classify_oracle() -> str:
    cs = OSQL.classify_sql("text")
    cols = ", ".join(
        [f"{cs['doc_type']} AS doc_type"]
        + [f"CAST({cs[f'score_{t}']} AS BIGINT) AS score_{t}" for t in C.TYPE_KEYWORDS]
    )
    return f"SELECT doc_id, {cols} FROM ({SYNTH_CORPUS_SQL})"


@query("classify_documents", _classify_oracle())
def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: keyword/regex classification scoring + priority argmax."""
    df = synth_corpus(spark, sf_dir)
    cls = classify(F.col("text"))
    return df.select(
        "doc_id",
        cls["doc_type"].alias("doc_type"),
        *[cls[f"score_{t}"].cast("bigint").alias(f"score_{t}") for t in C.TYPE_KEYWORDS],
    )


def _textstats_oracle() -> str:
    cs = OSQL.classify_sql("text")
    dist = OSQL.distribution_score_sql("text", cs["doc_type"])
    nar = OSQL.non_alnum_ratio_sql("text")
    return f"""
    SELECT doc_id, {dist} AS dist_score, {nar} AS nar
    FROM ({SYNTH_CORPUS_SQL})
    """


@query("distribution_scores", _textstats_oracle())
def q_distribution_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 + F11: char-class ratio scoring against per-type profiles."""
    df = synth_corpus(spark, sf_dir)
    # Materialize doc_type and the char-class counts ONCE: the score chain
    # below references doc_type 3x and the counts ~6x, and an interpreted
    # projection re-runs an inlined classify/regexp tree per reference
    # (measured 107 s -> ~8 s at sf0.1 from this split alone).
    counts = char_class_counts(F.col("text"))
    base = df.select(
        "doc_id",
        classify(F.col("text"))["doc_type"].alias("doc_type"),
        counts["total"].alias("_total"),
        counts["numeric"].alias("_numeric"),
        counts["special"].alias("_special"),
    )
    return base.select(
        "doc_id",
        distribution_score_from_counts(
            F.col("doc_type"), F.col("_total"), F.col("_numeric"), F.col("_special")
        ).alias("dist_score"),
        non_alnum_ratio_from_counts(
            F.col("_total"), F.col("_special")).alias("nar"),
    )


_MODE_TYPE = {0: "aadhaar", 1: "pan", 2: "vehicle_rc"}
_FIXED_PARTS = {"image_quality": 0.8, "fuzzy": 0.6, "kv": 0.5, "spatial": 1.0}


def _score_decide_frame(spark: SparkSession, sf_dir: str, mode: int) -> DataFrame:
    t = _MODE_TYPE[mode]
    df = _synth_with_words(spark, sf_dir, mode)
    built = FIELD_BUILDERS[t](F.col("text"), F.col("words"), F.col("lines"))
    # Materialize each extractor once: the scores below reference every field
    # 3-4 times, and duplicating the extraction expression trees made the
    # optimized plan ~600 KB (and execution ~4x slower). Same for the
    # char-class counts: dist/nar are each referenced twice below (parts ->
    # final_confidence and the output projection) and would re-run their
    # regexp scans per reference if inlined.
    counts = char_class_counts(F.col("text"))
    df = df.select(
        "doc_id", "text", "words",
        counts["total"].alias("_total"),
        counts["numeric"].alias("_numeric"),
        counts["special"].alias("_special"),
        *[c.alias(f"f_{n}") for n, c in built.items()],
    )
    text = F.col("text")
    fields = {n: F.col(f"f_{n}") for n in built}

    weights = C.FIELD_WEIGHTS[t]
    total_w = sum(weights.values())
    got: Column = F.lit(0.0)
    for fname, w in weights.items():
        got = got + F.when(fields[fname].isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
    schema = got / total_w

    mandatory: Column = F.lit(True)
    for fname in C.REQUIRED_FIELDS[t]:
        mandatory = mandatory & fields[fname].isNotNull()

    crit_missing: Column = F.lit(0)
    for fname, w in weights.items():
        if w >= C.CRITICAL_FIELD_WEIGHT:
            crit_missing = crit_missing + F.when(fields[fname].isNull(), 1).otherwise(0)

    n_words = F.size(F.col("words"))
    ocr_conf = F.when(n_words < C.MIN_WORDS_DETECTED, F.lit(0.0)).otherwise(F.lit(1.0))
    dist = distribution_score_from_counts(
        F.lit(t), F.col("_total"), F.col("_numeric"), F.col("_special"))
    nar = non_alnum_ratio_from_counts(F.col("_total"), F.col("_special"))

    parts = {
        "image_quality": F.lit(_FIXED_PARTS["image_quality"]),
        "ocr_confidence": ocr_conf,
        "regex": schema,
        "fuzzy": F.lit(_FIXED_PARTS["fuzzy"]),
        "layout": ocr_conf,
        "kv": F.lit(_FIXED_PARTS["kv"]),
        "consistency": F.when(mandatory, F.lit(1.0)).otherwise(F.lit(0.5)),
        "schema": schema,
        "distribution": dist,
        "spatial": F.lit(_FIXED_PARTS["spatial"]),
    }
    final = final_confidence(parts)
    # Conflicting-schema flag (text-only corpus has no blocks, so
    # multi_document stays False exactly as the reference's box-less path).
    from ocr_spark.functions.scoring import distinct_core_ids

    conflicting = distinct_core_ids(text, F.lit(t)) > 1
    dec = decision_columns(
        final_score=final,
        quality_passed=F.lit(True),
        text_detected=n_words > 0,
        mandatory=mandatory,
        non_alnum=nar,
        multi_document=F.lit(False),
        conflicting_schemas=conflicting,
        has_business_failures=crit_missing > 0,
    )
    return df.select(
        "doc_id",
        F.lit(t).alias("doc_type"),
        schema.alias("schema_score"),
        dist.alias("dist_score"),
        nar.alias("nar"),
        mandatory.cast("int").alias("mandatory_present"),
        crit_missing.cast("bigint").alias("critical_missing"),
        conflicting.cast("int").alias("conflicting_schemas"),
        final.alias("final_score"),
        dec["decision"].alias("decision"),
        dec["hard_rejection"].cast("int").alias("hard_rejection"),
    )


def _score_decide_oracle() -> str:
    w_total_global = dbl(sum(C.SCORE_WEIGHTS.values()))
    selects = []
    field_sql_gen = {
        0: OSQL.aadhaar_fields_sql,
        1: OSQL.pan_fields_sql,
        2: OSQL.rc_fields_sql,
    }
    for mode, t in _MODE_TYPE.items():
        fields_sql = field_sql_gen[mode](_mode_corpus_sql(mode))
        weights = C.FIELD_WEIGHTS[t]
        total_w = dbl(sum(weights.values()))
        got = " + ".join(
            f"(CASE WHEN f.{fn} IS NOT NULL THEN {dbl(w)} ELSE {dbl(0.0)} END)"
            for fn, w in weights.items()
        )
        schema = f"(({dbl(0.0)} + {got}) / {total_w})"
        mandatory = " AND ".join(f"f.{fn} IS NOT NULL" for fn in C.REQUIRED_FIELDS[t])
        crit = " + ".join(
            f"(CASE WHEN f.{fn} IS NULL THEN 1 ELSE 0 END)"
            for fn, w in weights.items() if w >= C.CRITICAL_FIELD_WEIGHT
        )
        dist = OSQL.distribution_score_sql("c.text", f"'{t}'")
        nar = OSQL.non_alnum_ratio_sql("c.text")
        n_words = "len(string_split_regex(trim(c.text), '\\s+'))"
        ocr_conf = (
            f"(CASE WHEN {n_words} < {C.MIN_WORDS_DETECTED} "
            f"THEN {dbl(0.0)} ELSE {dbl(1.0)} END)"
        )
        consistency = f"(CASE WHEN ({mandatory}) THEN {dbl(1.0)} ELSE {dbl(0.5)} END)"
        sw = C.SCORE_WEIGHTS
        num = (
            f"{dbl(sw['image_quality'])} * {dbl(_FIXED_PARTS['image_quality'])}"
            f" + {dbl(sw['ocr_confidence'])} * {ocr_conf}"
            f" + {dbl(sw['regex_match'])} * {schema}"
            f" + {dbl(sw['fuzzy_match'])} * {dbl(_FIXED_PARTS['fuzzy'])}"
            f" + {dbl(sw['layout_validity'])} * {ocr_conf}"
            f" + {dbl(sw['kv_match'])} * {dbl(_FIXED_PARTS['kv'])}"
            f" + {dbl(sw['consistency'])} * {consistency}"
            f" + {dbl(sw['schema_completeness'])} * {schema}"
            f" + {dbl(sw['distribution'])} * {dist}"
            f" + {dbl(sw['spatial_compactness'])} * {dbl(_FIXED_PARTS['spatial'])}"
        )
        final = f"greatest({dbl(0.0)}, least({dbl(1.0)}, ({num}) / {w_total_global}))"
        biz = f"(({crit}) > 0)"
        # conflicting-schema flag: >= 2 distinct normalized core ids of this
        # type (scoring.distinct_core_ids twin; RE2-safe — no lookbehind)
        pat = C.CORE_ID_PATTERNS[t]
        conflict = (
            f"(len(list_distinct(list_transform(list_filter("
            f"regexp_extract_all(c.text, '{pat}'), "
            f"m -> NOT starts_with(m, 'VID')), "
            f"m -> regexp_replace(m, '[-\\s]', '', 'g')))) > 1)"
        )
        decision = (
            f"CASE WHEN NOT ({n_words} > 0) THEN 'reject' "
            f"WHEN NOT TRUE THEN 'reject' "
            f"WHEN NOT ({mandatory}) THEN 'reject' "
            f"WHEN {nar} > {dbl(C.MAX_NON_ALPHANUMERIC)} THEN 'reject' "
            f"WHEN {conflict} THEN 'reject' "
            f"WHEN FALSE THEN 'review' "
            f"WHEN {final} >= {dbl(C.ACCEPT_THRESHOLD)} THEN "
            f"(CASE WHEN {biz} THEN 'review' ELSE 'accept' END) "
            f"WHEN {final} >= {dbl(C.REVIEW_THRESHOLD)} THEN 'review' ELSE 'reject' END"
        )
        hard = (
            f"(NOT ({n_words} > 0)) OR (({n_words} > 0) AND NOT ({mandatory})) "
            f"OR (({n_words} > 0) AND ({mandatory}) AND {nar} > {dbl(C.MAX_NON_ALPHANUMERIC)}) "
            f"OR (({n_words} > 0) AND ({mandatory}) "
            f"AND NOT ({nar} > {dbl(C.MAX_NON_ALPHANUMERIC)}) AND {conflict})"
        )
        selects.append(f"""
        SELECT c.doc_id, '{t}' AS doc_type,
               {schema} AS schema_score,
               {dist} AS dist_score,
               {nar} AS nar,
               CAST(CASE WHEN ({mandatory}) THEN 1 ELSE 0 END AS INTEGER) AS mandatory_present,
               CAST(({crit}) AS BIGINT) AS critical_missing,
               CAST(CASE WHEN {conflict} THEN 1 ELSE 0 END AS INTEGER) AS conflicting_schemas,
               {final} AS final_score,
               {decision} AS decision,
               CAST(CASE WHEN ({hard}) THEN 1 ELSE 0 END AS INTEGER) AS hard_rejection
        FROM ({_mode_corpus_sql(mode)}) c JOIN ({fields_sql}) f USING (doc_id)
        """)
    return " UNION ALL ".join(selects)


@query("score_and_decide", _score_decide_oracle())
def q_score_and_decide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 schema score + A10 confidence + decision chain, per doc type."""
    frames = [_score_decide_frame(spark, sf_dir, m) for m in _MODE_TYPE]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


_STOP_SQL = ", ".join(f"'{w}'" for w in C.STOPWORDS)
# word chars + ASCII whitespace (java-regex \s = [ \t\n\x0B\f\r]); deleting
# these via translate leaves exactly the chars '[^A-Za-z0-9_\s]' matches
_WORD_SPACE_CHARS = _string.ascii_letters + _string.digits + "_ \t\n\x0b\x0c\r"
_IS_NUM_SQL = (
    "(length(regexp_replace(w, '[,.\\s$€£¥]', '', 'g')) > 0 AND "
    "length(regexp_replace(translate(regexp_replace(w, '[,.\\s$€£¥]', '', 'g'), "
    f"'{C.DEVANAGARI_DIGITS}', '{C.ARABIC_DIGITS}'), '[^0-9]', '', 'g')) * 2 > "
    "length(regexp_replace(w, '[,.\\s$€£¥]', '', 'g')))"
)


@query(
    "word_stats",
    f"""
    WITH w AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS words
      FROM documents)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS total_words,
           CAST(len(list_distinct(words)) AS BIGINT) AS distinct_words,
           CAST(len(list_filter(words, w -> lower(w) IN ({_STOP_SQL}))) AS BIGINT) AS stopword_words,
           CAST(len(list_filter(words, w -> {_IS_NUM_SQL})) AS BIGINT) AS numeric_words,
           CAST(CASE WHEN len(words) < {C.MIN_WORDS_DETECTED} THEN 0 ELSE 1 END AS INTEGER)
             AS enough_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT)
             AS bpe_tokens
    FROM w
    """,
)
def q_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2-analog word statistics via higher-order array functions.

    Two-stage select: `words` is materialized as a real attribute first, so
    the five downstream stats reference a bound column instead of repeating
    the split expression — HOF projections run interpreted (CodegenFallback,
    no subexpression elimination), so an inline `split_words(text)` would be
    re-evaluated once per referencing output column. CollapseProject keeps
    the two Projects apart because duplicating a non-cheap producer that is
    consumed 5x is disallowed (measured at 500k docs: 14.5s -> one split
    pass; mirrors the oracle's WITH w AS (...) structure)."""
    from ocr_spark.functions.wordstats import _is_numeric

    words = F.col("words")
    stop = F.size(F.filter(words, lambda w: F.lower(w).isin(C.STOPWORDS)))
    num = F.size(F.filter(words, _is_numeric))
    return (
        _cpu(spark, sf_dir, "documents")
        .select("doc_id", "text", split_words(F.col("text")).alias("words"))
        .select(
            "doc_id",
            F.size(words).cast("bigint").alias("total_words"),
            F.size(F.array_distinct(words)).cast("bigint").alias("distinct_words"),
            stop.cast("bigint").alias("stopword_words"),
            num.cast("bigint").alias("numeric_words"),
            F.when(F.size(words) < C.MIN_WORDS_DETECTED, F.lit(0)).otherwise(F.lit(1))
            .cast("int").alias("enough_words"),
            # BPE-ish tokenization: word pieces + individual punctuation marks.
            # Decomposed from regexp_count(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'):
            # the alternation dominates the whole query under java.util.regex
            # (7.0s of 14.5s at 500k docs). Equivalent count = word-char runs
            # (simple-class regex) + non-word-non-space chars (translate's
            # char-table delete, no regex at all): 7.0s -> 0.8s, value-identical.
            (F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9_]+"))
             + F.length(F.translate(F.col("text"), _WORD_SPACE_CHARS, "")))
            .cast("bigint").alias("bpe_tokens"),
        )
    )


def _quality_gate_oracle() -> str:
    blur = f"(value * {dbl(3.0)})"
    bright = f"(value / {dbl(2.0)})"
    res = f"(value * {dbl(20.0)})"
    contrast = f"(value / {dbl(500.0)})"
    edge = f"(value / {dbl(1000.0)})"
    glare = f"(value / {dbl(2000.0)})"
    n_blur = f"least({dbl(1.0)}, {blur} / {dbl(C.QUALITY_BLUR_CAP)})"
    peak = dbl(C.QUALITY_BRIGHTNESS_PEAK)
    n_bright = (
        f"(CASE WHEN {bright} < {dbl(C.QUALITY_MIN_BALANCE)} OR {bright} > {dbl(C.QUALITY_MAX_BALANCE)} "
        f"THEN {dbl(0.0)} ELSE {dbl(1.0)} - abs({bright} - {peak}) / {peak} * {dbl(0.5)} END)"
    )
    lo, hi = dbl(C.PAGE_RES_MIN_BYTES), dbl(C.PAGE_RES_GOOD_BYTES)
    n_res = (
        f"(CASE WHEN {res} < {lo} THEN {res} / {lo} "
        f"WHEN {res} < {hi} THEN {dbl(0.5)} + {dbl(0.5)} * ({res} - {lo}) / ({hi} - {lo}) "
        f"ELSE {dbl(1.0)} END)"
    )
    n_contrast = (
        f"(CASE WHEN {contrast} < {dbl(C.QUALITY_CONTRAST_LOW)} THEN {dbl(0.0)} "
        f"WHEN {contrast} < {dbl(C.QUALITY_CONTRAST_KNEE)} THEN {contrast} / {dbl(C.QUALITY_CONTRAST_KNEE)} "
        f"ELSE {dbl(1.0)} END)"
    )
    mx = dbl(C.QUALITY_MAX_GLARE_RATIO)
    n_glare = (
        f"(CASE WHEN {glare} > {mx} THEN greatest({dbl(0.0)}, {dbl(1.0)} - {glare} / {mx}) "
        f"ELSE {dbl(1.0)} - {glare} / {mx} * {dbl(0.5)} END)"
    )
    w = C.QUALITY_WEIGHTS
    composite = (
        f"({dbl(w['blur'])} * {n_blur} + {dbl(w['brightness'])} * {n_bright} "
        f"+ {dbl(w['resolution'])} * {n_res} + {dbl(w['contrast'])} * {n_contrast} "
        f"+ {dbl(w['glare'])} * {n_glare})"
    )
    reasons = (
        f"COALESCE(array_to_string(list_filter(["
        f"CASE WHEN {blur} < {dbl(C.QUALITY_MIN_CONTENT_SCORE)} THEN 'low_content_score' END, "
        f"CASE WHEN {bright} < {dbl(C.QUALITY_MIN_BALANCE)} OR {bright} > {dbl(C.QUALITY_MAX_BALANCE)} "
        f"THEN 'balance_out_of_range' END, "
        f"CASE WHEN {contrast} < {dbl(C.QUALITY_MIN_CONTRAST)} THEN 'low_contrast' END, "
        f"CASE WHEN {edge} < {dbl(C.QUALITY_MIN_EDGE_DENSITY)} THEN 'low_edge_density' END, "
        f"CASE WHEN {glare} > {dbl(C.QUALITY_MAX_GLARE_RATIO)} THEN 'high_boilerplate_ratio' END"
        f"], x -> x IS NOT NULL), '|'), '') "
    )
    passed = (
        f"(CASE WHEN len(list_filter(["
        f"CASE WHEN {blur} < {dbl(C.QUALITY_MIN_CONTENT_SCORE)} THEN 'a' END, "
        f"CASE WHEN {bright} < {dbl(C.QUALITY_MIN_BALANCE)} OR {bright} > {dbl(C.QUALITY_MAX_BALANCE)} THEN 'a' END, "
        f"CASE WHEN {contrast} < {dbl(C.QUALITY_MIN_CONTRAST)} THEN 'a' END, "
        f"CASE WHEN {edge} < {dbl(C.QUALITY_MIN_EDGE_DENSITY)} THEN 'a' END, "
        f"CASE WHEN {glare} > {dbl(C.QUALITY_MAX_GLARE_RATIO)} THEN 'a' END"
        f"], x -> x IS NOT NULL)) = 0 THEN 1 ELSE 0 END)"
    )
    return f"""
    SELECT event_id,
           {composite} AS quality_score,
           CAST({passed} AS INTEGER) AS quality_passed,
           {reasons} AS quality_reasons
    FROM events
    """


@query("quality_gate", _quality_gate_oracle())
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F8: piecewise normalizers + weighted composite + gate reasons."""
    v = F.col("value")
    qual = quality_columns(
        v * 3.0, v / 2.0, v * 20.0, v / 500.0, v / 1000.0, v / 2000.0
    )
    return _t(spark, sf_dir, "events").select(
        "event_id",
        qual["quality_score"].alias("quality_score"),
        qual["quality_passed"].cast("int").alias("quality_passed"),
        F.concat_ws("|", qual["quality_reasons"]).alias("quality_reasons"),
    )


@query(
    "date_normalize",
    f"""
    WITH src AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 4 = 0 THEN CAST(1 + doc_id % 28 AS VARCHAR) || '-' ||
                     CAST(1 + doc_id % 12 AS VARCHAR) || '-' || CAST(1950 + doc_id % 70 AS VARCHAR)
                   WHEN doc_id % 4 = 1 THEN CAST(1950 + doc_id % 70 AS VARCHAR) || '/' ||
                     CAST(1 + doc_id % 12 AS VARCHAR) || '/' || CAST(1 + doc_id % 28 AS VARCHAR)
                   WHEN doc_id % 4 = 2 THEN lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || '.' ||
                     lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || '.' || CAST(1950 + doc_id % 70 AS VARCHAR)
                   ELSE 'not a date ' || CAST(doc_id AS VARCHAR) END) AS raw
      FROM documents)
    SELECT doc_id, raw, {OSQL._norm_date('raw')} AS normalized,
           CAST(CASE WHEN {OSQL._is_valid_date('raw')} THEN 1 ELSE 0 END AS INTEGER) AS valid
    FROM src
    """,
)
def q_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D5: date normalization to DD/MM/YYYY + reference validity check."""
    from ocr_spark.functions.normalize import is_valid_date

    k = F.col("doc_id")
    dd, mm, yy = (1 + k % 28).cast("string"), (1 + k % 12).cast("string"), (1950 + k % 70).cast("string")
    raw = (
        F.when(k % 4 == 0, F.concat(dd, F.lit("-"), mm, F.lit("-"), yy))
        .when(k % 4 == 1, F.concat(yy, F.lit("/"), mm, F.lit("/"), dd))
        .when(k % 4 == 2, F.concat(F.lpad(dd, 2, "0"), F.lit("."), F.lpad(mm, 2, "0"), F.lit("."), yy))
        .otherwise(F.concat(F.lit("not a date "), k.cast("string")))
    )
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        raw.alias("raw"),
        normalize_date(raw).alias("normalized"),
        is_valid_date(raw).cast("int").alias("valid"),
    )


@query(
    "date_standardize",
    """
    WITH src AS (
      SELECT doc_id,
             CAST(1 + doc_id % 28 AS INTEGER) AS dd,
             CAST(1 + doc_id % 12 AS INTEGER) AS mm,
             CAST(1950 + doc_id % 70 AS INTEGER) AS yy,
             CAST(29 + doc_id % 3 AS INTEGER) AS bad,
             doc_id % 7 AS mode
      FROM documents),
    expect AS (
      -- the dateutil decisions computed from first principles: month-first
      -- unless the first field exceeds 12; textual months bind the month
      -- regardless of order; true-calendar validity
      SELECT doc_id, mode, yy,
             CASE WHEN mode = 0 THEN (CASE WHEN dd <= 12 THEN dd ELSE mm END)
                  WHEN mode = 1 OR mode = 2 THEN mm
                  WHEN mode = 3 THEN 2
                  WHEN mode >= 5 THEN mm END AS m,
             CASE WHEN mode = 0 THEN (CASE WHEN dd <= 12 THEN mm ELSE dd END)
                  WHEN mode = 1 OR mode = 2 THEN dd
                  WHEN mode = 3 THEN bad
                  WHEN mode >= 5 THEN dd END AS d
      FROM src)
    SELECT doc_id,
           CASE WHEN mode = 4 THEN NULL
                WHEN mode = 3 AND NOT (d = 29 AND ((yy % 4 = 0 AND yy % 100 != 0) OR yy % 400 = 0))
                  THEN NULL
                ELSE CAST(yy AS VARCHAR) || '-' || lpad(CAST(m AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST(d AS VARCHAR), 2, '0') END AS standardized
    FROM expect
    """,
)
def q_date_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: YYYY-MM-DD standardizer (reference normalization.py:74-89, the
    dateutil path) over mixed-form inputs incl. month-first ambiguity,
    Feb-overflow/leap edge cases, and textual months ("17 Mar 1999",
    "March 17, 1999"). The DuckDB twin computes the expected output from
    first principles, so it cross-checks the parser, swap rule, month-name
    table, and calendar validity independently."""
    k = F.col("doc_id")
    dd = (1 + k % 28).cast("string")
    mm = (1 + k % 12).cast("string")
    yy = (1950 + k % 70).cast("string")
    bad = (29 + k % 3).cast("string")
    abbr = F.element_at(
        F.array(*[F.lit(x) for x in
                  ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                   "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]]),
        (1 + k % 12).cast("int"))
    full = F.element_at(
        F.array(*[F.lit(x) for x in
                  ["January", "February", "March", "April", "May", "June",
                   "July", "August", "September", "October", "November",
                   "December"]]),
        (1 + k % 12).cast("int"))
    raw = (
        F.when(k % 7 == 0, F.concat(dd, F.lit("-"), mm, F.lit("-"), yy))
        .when(k % 7 == 1, F.concat(yy, F.lit("/"), mm, F.lit("/"), dd))
        .when(k % 7 == 2, F.concat(mm, F.lit("."), dd, F.lit("."), yy))
        .when(k % 7 == 3, F.concat(bad, F.lit("-02-"), yy))
        .when(k % 7 == 5, F.concat(dd, F.lit(" "), abbr, F.lit(" "), yy))
        .when(k % 7 == 6, F.concat(full, F.lit(" "), dd, F.lit(", "), yy))
        .otherwise(F.concat(F.lit("not a date "), k.cast("string")))
    )
    from ocr_spark.functions.normalize import standardize_date_staged

    base = _cpu(spark, sf_dir, "documents").select("doc_id", raw.alias("raw"))
    return standardize_date_staged(base, F.col("raw"), "standardized").select(
        "doc_id", "standardized"
    )


_CLEAN_NOISE_SQL = (
    "'। टिप्पणी ' || text || ' ॥ x@#y | ' || 'हिंदी पाठ – ' || CAST(doc_id AS VARCHAR) || ' — अंत'"
)


@query(
    "clean_text",
    f"""
    WITH src AS (SELECT doc_id, {_CLEAN_NOISE_SQL} AS noisy FROM documents)
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(noisy, '[।॥|]+', '', 'g'),
                 '\\s+[-–—]\\s+', ' ', 'g'),
               '[^\\p{{L}}\\p{{N}}_\\sऀ-ॿ.,/:()\\-]', '', 'g'),
             '\\s+', ' ', 'g')) AS cleaned
    FROM src
    """,
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: OCR text cleaner (reference utils.py:235-251) over danda/pipe/
    symbol-noised Hindi+English text — native regexp_replace chain."""
    from ocr_spark.functions.normalize import clean_text

    noisy = F.concat(
        F.lit("। टिप्पणी "), F.col("text"), F.lit(" ॥ x@#y | "),
        F.lit("हिंदी पाठ – "), F.col("doc_id").cast("string"), F.lit(" — अंत"),
    )
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id", clean_text(noisy).alias("cleaned")
    )


_FIELDS_SQL = """
    SELECT (p_partkey - 1) % 40 AS doc_id,
           'f' || CAST((p_partkey - 1) // 40 AS VARCHAR) AS field_name,
           'val' || CAST((p_partkey * 4) % 10 AS VARCHAR) AS field_value
    FROM part WHERE p_partkey <= 120
"""

_LINES_SQL = """
    SELECT s_suppkey % 40 AS doc_id,
           s_suppkey AS line_idx,
           CASE WHEN s_suppkey % 10 = 0 THEN 'val' || CAST(s_suppkey % 10 AS VARCHAR)
                ELSE 'row text val' || CAST(s_suppkey % 10 AS VARCHAR) || ' tail' END AS line_text,
           CAST((s_suppkey * 13) % 500 AS BIGINT) AS x,
           CAST((s_suppkey * 11) % 400 AS BIGINT) AS y
    FROM supplier
"""


@query(
    "field_box_substring_join",
    f"""
    WITH f AS ({_FIELDS_SQL}), l AS ({_LINES_SQL}),
    m AS (
      SELECT f.doc_id, f.field_name, f.field_value, l.line_idx, l.x, l.y,
             ROW_NUMBER() OVER (PARTITION BY f.doc_id, f.field_name
                                ORDER BY l.line_idx) AS rn
      FROM f JOIN l ON f.doc_id = l.doc_id
       AND (contains(lower(l.line_text), lower(f.field_value))
            OR contains(lower(f.field_value), lower(l.line_text))))
    SELECT doc_id, field_name, field_value, line_idx, x, y
    FROM m WHERE rn = 1
    """,
)
def q_field_box_substring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: field<->OCR-line substring theta join with first-match-wins
    (reference spatial_validator.py:82-115 _map_fields_to_boxes: field value
    in line text OR line text in field value, first line index wins).

    Scale shape: the contains() predicate rides on a doc_id EQUI join —
    the nested-loop part is per-document (bounded by lines-per-doc), never
    corpus-wide."""
    p = F.col("p_partkey")
    fields = (
        _t(spark, sf_dir, "part")
        .filter(p <= 120)
        .select(
            ((p - 1) % 40).alias("doc_id"),
            F.concat(F.lit("f"), ((p - 1) / 40).cast("int").cast("string")).alias("field_name"),
            F.concat(F.lit("val"), ((p * 4) % 10).cast("string")).alias("field_value"),
        )
    )
    s = F.col("s_suppkey")
    lines = _t(spark, sf_dir, "supplier").select(
        (s % 40).alias("doc_id"),
        s.alias("line_idx"),
        F.when(
            s % 10 == 0, F.concat(F.lit("val"), (s % 10).cast("string"))
        ).otherwise(
            F.concat(F.lit("row text val"), (s % 10).cast("string"), F.lit(" tail"))
        ).alias("line_text"),
        ((s * 13) % 500).cast("bigint").alias("x"),
        ((s * 11) % 400).cast("bigint").alias("y"),
    )
    joined = fields.join(
        lines,
        (fields["doc_id"] == lines["doc_id"])
        & (
            F.lower(lines["line_text"]).contains(F.lower(fields["field_value"]))
            | F.lower(fields["field_value"]).contains(F.lower(lines["line_text"]))
        ),
    )
    w = Window.partitionBy(fields["doc_id"], "field_name").orderBy("line_idx")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            fields["doc_id"], "field_name", "field_value", "line_idx", "x", "y"
        )
    )


def _anchor_scores_oracle() -> str:
    """Substring-form twin of the fuzzy anchor UDF. Exact on the synthetic
    corpus because the token-sort fuzzy gate provably never fires beyond
    plain substring containment there — asserted per-document per-anchor by
    tests/test_oracle_semantics.py::test_anchor_gate_substring_decidable.
    The score arithmetic mirrors reference_semantics.anchor_score (which
    the UDF calls) operation-for-operation (int counts -> one division ->
    one min chain), so doubles are bit-identical."""
    cs = OSQL.classify_sql("text")

    def hit(a: str) -> str:
        esc = a.replace("'", "''")
        return f"CASE WHEN contains(lower(text), '{esc}') THEN 1 ELSE 0 END"

    branches = []
    for dt, cfg in C.ANCHORS.items():
        req = " + ".join(hit(a) for a in cfg["required"])
        opt = " + ".join(hit(a) for a in cfg["optional"])
        bonus = (
            f"LEAST(CAST({C.ANCHOR_OPTIONAL_BONUS_CAP} AS DOUBLE), "
            f"({opt}) * CAST({C.ANCHOR_OPTIONAL_BONUS} AS DOUBLE))"
        )
        score = (
            f"LEAST(CAST(1 AS DOUBLE), "
            f"({req}) / CAST({len(cfg['required'])} AS BIGINT) + {bonus})"
        )
        branches.append(f"WHEN doc_type = '{dt}' THEN {score}")
    case = "CASE " + " ".join(branches) + " ELSE CAST(0 AS DOUBLE) END"
    return f"""
    WITH c AS (SELECT doc_id, text, {cs['doc_type']} AS doc_type FROM ({SYNTH_CORPUS_SQL}))
    SELECT doc_id, doc_type, {case} AS anchor_score FROM c
    """


@query("anchor_scores", _anchor_scores_oracle())
def q_anchor_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: fuzzy anchor scoring (Arrow-batched pandas UDF)."""
    df = synth_corpus(spark, sf_dir)
    # doc_type is referenced twice (output + UDF argument); materialize it
    # so the classify keyword/regex tree runs once, not twice.
    base = df.select(
        "doc_id", "text",
        classify(F.col("text"))["doc_type"].alias("doc_type"),
    )
    return base.select(
        "doc_id",
        "doc_type",
        anchor_score(F.col("text"), F.col("doc_type")).alias("anchor_score"),
    )


# The page BLOCK KEY is key div <density>, NOT key % <n_pages>: a modulo
# key fixes the page count and grows boxes-per-page linearly with the
# table, so every page-blocked self-join (bbox_iou_pairs) goes quadratic
# at scale — the sf1-equivalent sweep (x10 corpus) blew the driver's
# result transfer exactly this way. Integer-dividing the key models the
# physical reality instead: a page holds a bounded number of regions (500
# boxes / 25 words — the part:supplier cardinality ratio is 20:1 at every
# TPC-H sf, so the two page ranges stay aligned), and data growth adds
# PAGES, keeping the per-page pair count constant forever.
_BOX_SQL = """
    SELECT p_partkey AS box_id,
           CAST(p_partkey % 500 AS BIGINT) AS x,
           CAST((p_partkey * 7) % 400 AS BIGINT) AS y,
           CAST(40 + p_partkey % 60 AS BIGINT) AS w,
           CAST(30 + p_partkey % 50 AS BIGINT) AS h,
           CAST(p_partkey // 500 AS BIGINT) AS page
    FROM part
"""

_POINT_SQL = """
    SELECT s_suppkey AS word_id,
           CAST((s_suppkey * 13) % 540 AS BIGINT) AS cx,
           CAST((s_suppkey * 11) % 430 AS BIGINT) AS cy,
           CAST(s_suppkey // 25 AS BIGINT) AS page
    FROM supplier
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_POINT_SQL``."""
    k = F.col("s_suppkey")
    return _t(spark, sf_dir, "supplier").select(
        k.alias("word_id"),
        ((k * 13) % 540).cast("bigint").alias("cx"),
        ((k * 11) % 430).cast("bigint").alias("cy"),
        F.expr("CAST(s_suppkey AS BIGINT) div 25").alias("page"),
    )


def _boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("p_partkey")
    return _t(spark, sf_dir, "part").select(
        k.alias("box_id"),
        (k % 500).cast("bigint").alias("x"),
        ((k * 7) % 400).cast("bigint").alias("y"),
        (40 + k % 60).cast("bigint").alias("w"),
        (30 + k % 50).cast("bigint").alias("h"),
        # div, not %: bounded boxes-per-page at any table size (see the
        # _BOX_SQL comment — the % 20 key went quadratic at 10x)
        F.expr("CAST(p_partkey AS BIGINT) div 500").alias("page"),
    )


def _zorder_expr(xcol: str, ycol: str, bits: int, div_op: str) -> str:
    """Morton/z-order bit interleave as pure integer arithmetic — the same
    generated expression runs in Spark (div) and DuckDB (//), so the layout
    key is engine-exact. bit i of x lands at position 2i, of y at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"(({xcol} {div_op} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({ycol} {div_op} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@query(
    "zorder_keys",
    f"""
    WITH b AS ({{boxes}})
    SELECT box_id, x, y,
           CAST({_zorder_expr("x", "y", 9, "//")} AS BIGINT) AS zval
    FROM b
    """.replace("{boxes}", _BOX_SQL),
)
def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over 2-D box coordinates — the
    multi-dimensional clustering key a lakehouse table layout sorts by so
    range predicates on EITHER dimension prune files. Pure integer
    bit-interleave arithmetic in the scan projection; writing the table
    as repartitionByRange(zval) + sortWithinPartitions(zval) is the
    layout step this key feeds."""
    return _boxes(spark, sf_dir).select(
        "box_id", "x", "y",
        F.expr(_zorder_expr("x", "y", 9, "div")).cast("bigint").alias("zval"),
    )


@query(
    "word_region_containment",
    f"""
    WITH b AS ({_BOX_SQL}), p AS ({_POINT_SQL})
    SELECT p.word_id, b.box_id
    FROM p JOIN b ON p.page = b.page
      AND p.cx BETWEEN b.x AND b.x + b.w AND p.cy BETWEEN b.y AND b.y + b.h
    """,
)
def q_word_region_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: point-in-box range join, equi-key on page + interval predicates
    (broadcast the small side at scale)."""
    points = _points(spark, sf_dir)
    b = _boxes(spark, sf_dir)
    cond = (
        (points.page == b.page)
        & points.cx.between(b.x, b.x + b.w)
        & points.cy.between(b.y, b.y + b.h)
    )
    return points.join(b, cond).select("word_id", "box_id")


@query(
    "bbox_iou_pairs",
    f"""
    WITH b AS ({_BOX_SQL})
    SELECT a.box_id AS box_a, c.box_id AS box_b,
           CAST(greatest(0, least(a.x + a.w, c.x + c.w) - greatest(a.x, c.x))
              * greatest(0, least(a.y + a.h, c.y + c.h) - greatest(a.y, c.y)) AS BIGINT)
             AS intersection_area,
           CAST(a.w * a.h + c.w * c.h
              - greatest(0, least(a.x + a.w, c.x + c.w) - greatest(a.x, c.x))
              * greatest(0, least(a.y + a.h, c.y + c.h) - greatest(a.y, c.y)) AS BIGINT)
             AS union_area
    FROM b a JOIN b c ON a.page = c.page AND a.box_id < c.box_id
    WHERE greatest(0, least(a.x + a.w, c.x + c.w) - greatest(a.x, c.x))
        * greatest(0, least(a.y + a.h, c.y + c.h) - greatest(a.y, c.y)) > 0
    """,
)
def q_bbox_iou_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BoundingBox IoU math (region.py:41-64) as integer-exact areas over a
    page-blocked self-join (the NMS building block SO2)."""
    b = _boxes(spark, sf_dir)
    a = b.select(*[F.col(c).alias(f"a_{c}") for c in b.columns])
    c = b.select(*[F.col(c).alias(f"b_{c}") for c in b.columns])
    j = a.join(c, (F.col("a_page") == F.col("b_page")) & (F.col("a_box_id") < F.col("b_box_id")))
    ix = F.greatest(
        F.lit(0),
        F.least(F.col("a_x") + F.col("a_w"), F.col("b_x") + F.col("b_w"))
        - F.greatest(F.col("a_x"), F.col("b_x")),
    )
    iy = F.greatest(
        F.lit(0),
        F.least(F.col("a_y") + F.col("a_h"), F.col("b_y") + F.col("b_h"))
        - F.greatest(F.col("a_y"), F.col("b_y")),
    )
    inter = ix * iy
    union = F.col("a_w") * F.col("a_h") + F.col("b_w") * F.col("b_h") - inter
    return (
        j.select(
            F.col("a_box_id").alias("box_a"),
            F.col("b_box_id").alias("box_b"),
            inter.cast("bigint").alias("intersection_area"),
            union.cast("bigint").alias("union_area"),
        )
        .filter(F.col("intersection_area") > 0)
    )


@query(
    "spatial_dispersion",
    f"""
    WITH p AS ({_POINT_SQL})
    SELECT page,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(cx) AS BIGINT) AS sum_x,
           CAST(SUM(cx * cx) AS BIGINT) AS sum_x2,
           CAST(SUM(cy) AS BIGINT) AS sum_y,
           CAST(SUM(cy * cy) AS BIGINT) AS sum_y2,
           CAST(MAX(cx) - MIN(cx) AS BIGINT) AS spread_x,
           CAST(MAX(cy) - MIN(cy) AS BIGINT) AS spread_y
    FROM p GROUP BY page
    """,
)
def q_spatial_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/A13: dispersion + cluster-spread aggregates carried as exact
    integer moments (stddev = f(sum, sum2, n) downstream — FP-order-free)."""
    p = _points(spark, sf_dir)
    return p.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cx").alias("sum_x"),
        F.sum(F.col("cx") * F.col("cx")).alias("sum_x2"),
        F.sum("cy").alias("sum_y"),
        F.sum(F.col("cy") * F.col("cy")).alias("sum_y2"),
        (F.max("cx") - F.min("cx")).alias("spread_x"),
        (F.max("cy") - F.min("cy")).alias("spread_y"),
    )


@query(
    "region_merge",
    f"""
    WITH b AS ({_BOX_SQL})
    SELECT page,
           CAST(MIN(x) AS BIGINT) AS mx,
           CAST(MIN(y) AS BIGINT) AS my,
           CAST(MAX(x + w) AS BIGINT) AS mx2,
           CAST(MAX(y + h) AS BIGINT) AS my2,
           CAST(COUNT(*) AS BIGINT) AS n_regions
    FROM b GROUP BY page
    """,
)
def q_region_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: cluster-union region merge — enclosing bbox per group."""
    b = _boxes(spark, sf_dir)
    return b.groupBy("page").agg(
        F.min("x").alias("mx"),
        F.min("y").alias("my"),
        F.max(F.col("x") + F.col("w")).alias("mx2"),
        F.max(F.col("y") + F.col("h")).alias("my2"),
        F.count(F.lit(1)).alias("n_regions"),
    )


@query(
    "token_ordinals",
    """
    WITH s AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS parts FROM documents
               WHERE length(trim(text)) > 0),
    e AS (SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i FROM s)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_num, parts[i] AS word FROM e
    """,
)
def q_token_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: order-preserving ordinal assignment via posexplode of the word
    array (the reference's line_num/word_num bookkeeping, engine.py:74)."""
    return (
        _cpu(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.posexplode(split_words(F.col("text"))).alias("word_num", "word"))
        .select("doc_id", F.col("word_num").cast("bigint").alias("word_num"), "word")
    )


@query(
    "numeric_deconfusion",
    """
    SELECT doc_id,
           regexp_replace(translate('Rs O' || CAST(doc_id AS VARCHAR) || 'l.S0 total B8 Z2 end',
                'OoIliSsBGZz', '00111558622'), '[^0-9.,\\-]', '', 'g') AS cleaned
    FROM documents
    """,
)
def q_numeric_deconfusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: numeric-context OCR de-confusion (O->0, l->1, S->5 ... then strip
    non-numeric) over deterministic noisy amounts."""
    from ocr_spark.functions.normalize import normalize_numeric_field

    noisy = F.concat(
        F.lit("Rs O"), F.col("doc_id").cast("string"), F.lit("l.S0 total B8 Z2 end")
    )
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id", normalize_numeric_field(noisy).alias("cleaned")
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end document pipeline on the synth corpus (native Catalyst):
    the ``score_and_decide`` query."""
    return q_score_and_decide(spark, sf_dir)


_PDF_SYNTH = (
    ["stream BT /F1 12 Tf 72 700 Td (Doc ", _DOC_ID,
     ") Tj 0 -14 Td (body line) Tj ET endstream"],
    ["stream BT [(Sp)(lit)-250(doc ", _DOC_ID,
     ")-50(x)] TJ ET BT (tail \\(esc\\)) Tj ET"],
    ["stream BT <4865> Tj ET"],
    ["stream BT [(He)<6c6c6f>-250(x)] TJ ET"],
    ["stream BT (oct \\065three) Tj ET"],
    ["%PDF no text operators ", _DOC_ID],
)


def _pdf_oracle() -> str:
    bt = r"(?s)BT(.*?)ET"
    show = r"(?s)(\((?:[^()\\]|\\.)*\)\s*Tj|\[(?:[^\]\\]|\\.)*\]\s*TJ)"
    part = r"(?s)\((?:[^()\\]|\\.)*\)|-?[0-9]+(?:\.[0-9]+)?"
    strip = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "{X}, '(?s)^\\((.*)\\)$', '\\1', 's'),"
        " '\\\\\\(', '(', 'g'), '\\\\\\)', ')', 'g'),"
        " '\\\\\\\\', '\\\\', 'g')"
    )
    tj_literal = strip.format(X="regexp_replace(s, '(?s)\\s*Tj$', '')")
    part_strip = strip.format(X="x")
    return f"""
    WITH synth AS (
      SELECT doc_id, {case_sql('doc_id', _PDF_SYNTH)} AS pdf FROM documents),
    marked AS (
      SELECT doc_id, pdf,
             CAST(regexp_matches(pdf, '(?s)BT.*<[0-9A-Fa-f\\s]*>\\s*Tj')
                  OR regexp_matches(pdf,
                     '(?s)BT.*\\[(?:[^\\]\\\\]|\\\\.)*<[0-9A-Fa-f\\s]*>'
                     || '(?:[^\\]\\\\]|\\\\.)*\\]\\s*TJ')
                  OR regexp_matches(pdf,
                     '(?s)\\((?:[^()\\\\]|\\\\.)*\\\\[0-7]')
                  AS INTEGER) AS rejected,
             regexp_extract_all(pdf, '{bt}', 1) AS blocks
      FROM synth),
    shows AS (
      SELECT doc_id, rejected, blocks,
             flatten(list_transform(blocks,
               b -> regexp_extract_all(b, '{show}', 1))) AS sh
      FROM marked),
    runs AS (
      SELECT doc_id, rejected, blocks, sh,
             list_transform(sh, s ->
               CASE WHEN regexp_matches(s, '(?s)\\]\\s*TJ$') THEN
                 list_reduce(
                   list_prepend('', regexp_extract_all(s, '{part}', 0)),
                   (acc, x) -> CASE
                     WHEN x LIKE '(%' THEN acc || {part_strip}
                     WHEN TRY_CAST(x AS DOUBLE) <= -180.0
                       THEN acc || ' '
                     ELSE acc END)
               ELSE {tj_literal} END) AS rs
      FROM shows)
    SELECT doc_id,
           CAST(len(blocks) AS BIGINT) AS n_blocks,
           CAST(len(rs) AS BIGINT) AS n_runs,
           CASE WHEN rejected = 1 THEN NULL
                ELSE COALESCE(array_to_string(rs, ' '), '') END AS text,
           rejected
    FROM runs
    """


@query("pdf_text_extract", _pdf_oracle())
def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text-layer extraction over synthetic uncompressed content
    streams (Tj literals, TJ arrays with kern-gap word spacing, escaped
    parens, a hex-string family that must reject to the OCR path, and a
    no-text family). The born-digital fast path beside the OCR stage.
    See extraction/pdf_text.py."""
    from ocr_spark.extraction.pdf_text import pdf_text_extract

    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _PDF_SYNTH).alias("pdf"))
    out = pdf_text_extract(synth, "doc_id", "pdf")
    return out.select(F.col("doc").alias("doc_id"), "n_blocks", "n_runs",
                      "text", "rejected")


@query(
    "reading_order",
    """
    WITH words AS (
      SELECT doc_id AS doc, i,
             CASE WHEN doc_id % 2 = 1 AND i >= 6 THEN 1 ELSE 0 END AS c,
             CAST(50 + (i % 3) * 80
                  + CASE WHEN doc_id % 2 = 1 AND i >= 6
                         THEN 400 ELSE 0 END AS BIGINT) AS x,
             CAST(40 + CASE WHEN doc_id % 2 = 1
                            THEN ((i % 6) // 3) * 20
                            ELSE (i // 3) * 20 END AS BIGINT) AS y,
             'w' || CAST(i AS VARCHAR) AS w
      FROM documents, (SELECT unnest(generate_series(0, 11)) AS i)),
    xs AS (SELECT DISTINCT doc, x FROM words),
    gaps AS (
      SELECT doc, x - LAG(x) OVER (PARTITION BY doc ORDER BY x) AS gap,
             LAG(x) OVER (PARTITION BY doc ORDER BY x) AS left_x
      FROM xs),
    split AS (
      SELECT doc,
             CASE WHEN MAX(gap) >= 200 THEN
               MIN(CASE WHEN gap = (SELECT MAX(g2.gap) FROM gaps g2
                                    WHERE g2.doc = gaps.doc)
                        THEN left_x + gap // 2 END)
             END AS split_x
      FROM gaps WHERE gap IS NOT NULL GROUP BY doc),
    placed AS (
      SELECT w.doc, w.y, w.x, w.w,
             CASE WHEN s.split_x IS NOT NULL AND w.x > s.split_x
                  THEN 1 ELSE 0 END AS col
      FROM words w LEFT JOIN split s ON s.doc = w.doc)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(MAX(col) + 1 AS BIGINT) AS n_cols,
           string_agg(w, ' ' ORDER BY col, y, x, w) AS ordered_text
    FROM placed GROUP BY doc
    """,
)
def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reading-order reconstruction over synthetic word boxes (half the
    docs single-column, half two-column): largest-x-gap column
    detection, then (column, y, x) ordering — the layout step naive
    y-then-x ordering gets wrong on every two-column page. See
    extraction/pdf_text.reading_order."""
    from ocr_spark.extraction.pdf_text import reading_order

    k = F.col("doc_id")
    words = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("i"),
    ).select(
        "doc_id", "i",
        F.when((k % 2 == 1) & (F.col("i") >= 6), 1).otherwise(0).alias("c"),
    ).select(
        "doc_id",
        (F.lit(50) + (F.col("i") % 3) * 80 + F.col("c") * 400).alias("x"),
        (F.lit(40) + F.when(k % 2 == 1, ((F.col("i") % 6) / 3).cast("int"))
         .otherwise((F.col("i") / 3).cast("int")) * 20).alias("y"),
        F.concat(F.lit("w"), F.col("i").cast("string")).alias("w"),
    )
    out = reading_order(words, "doc_id", "x", "y", "w", min_gap=200)
    return out.select(F.col("doc").alias("doc_id"), "n_words", "n_cols",
                      "ordered_text")


@query(
    "table_from_boxes",
    """
    WITH words AS (
      SELECT doc_id AS doc, i,
             CAST(60 + (i % 3) * 150 + (i % 2) * 30 AS BIGINT) AS x,
             CAST(40 + (i // 3) * 25 AS BIGINT) AS y,
             'c' || CAST(i AS VARCHAR) AS w
      FROM documents, (SELECT unnest(generate_series(0, 8)) AS i)),
    xb AS (
      SELECT doc, list_sort(list(x)) AS x_bounds FROM (
        SELECT DISTINCT doc, x FROM words) t
      WHERE x - COALESCE((SELECT MAX(t2.x) FROM (
          SELECT DISTINCT doc AS d2, x FROM words) t2
          WHERE t2.d2 = t.doc AND t2.x < t.x), x) >= 60
      GROUP BY doc),
    yb AS (
      SELECT doc, list_sort(list(y)) AS y_bounds FROM (
        SELECT DISTINCT doc, y FROM words) t
      WHERE y - COALESCE((SELECT MAX(t2.y) FROM (
          SELECT DISTINCT doc AS d2, y FROM words) t2
          WHERE t2.d2 = t.doc AND t2.y < t.y), y) >= 15
      GROUP BY doc),
    placed AS (
      SELECT w.doc, w.x, w.y, w.w,
             len(list_filter(COALESCE(xb.x_bounds, []), b -> b <= w.x))
                 AS col,
             len(list_filter(COALESCE(yb.y_bounds, []), b -> b <= w.y))
                 AS row
      FROM words w
      LEFT JOIN xb ON xb.doc = w.doc
      LEFT JOIN yb ON yb.doc = w.doc),
    cells AS (
      SELECT doc, row, col,
             string_agg(w, ' ' ORDER BY y, x, w) AS cell
      FROM placed GROUP BY doc, row, col)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(MAX(row) + 1 AS BIGINT) AS n_rows,
           CAST(MAX(col) + 1 AS BIGINT) AS n_cols,
           string_agg(
             CASE WHEN col = 0 AND row > 0 THEN '||' || cell
                  WHEN col > 0 THEN '|' || cell
                  ELSE cell END, '' ORDER BY row, col) AS grid
    FROM cells GROUP BY doc
    """,
)
def q_table_from_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconstruction over synthetic 3x3 word grids (two words
    per x-band via the +30 jitter, so bands must merge them into one
    cell): gap-opened row/column bands, cells in (y, x) order, grid
    rendered row-major. See extraction/pdf_text.table_from_boxes."""
    from ocr_spark.extraction.pdf_text import table_from_boxes

    words = _cpu(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(8))).alias("i"),
    ).select(
        "doc_id",
        (F.lit(60) + (F.col("i") % 3) * 150 + (F.col("i") % 2) * 30)
        .alias("x"),
        (F.lit(40) + (F.col("i") / 3).cast("int") * 25).alias("y"),
        F.concat(F.lit("c"), F.col("i").cast("string")).alias("w"),
    )
    out = table_from_boxes(words, "doc_id", "x", "y", "w",
                           x_gap=60, y_gap=15)
    return out.select(F.col("doc").alias("doc_id"), "n_rows", "n_cols",
                      "grid")


@query(
    "dehyphenate_linebreak",
    """
    WITH synth AS (
      SELECT doc_id,
             'exam-' || chr(10) || 'ple no ' || CAST(doc_id AS VARCHAR)
             || ' Berlin-' || chr(10) || 'West plus-' || chr(10)
             || 'minus end' AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(t,
             '([a-z])-' || chr(10) || '([a-z])', '\\1\\2', 'g'),
             '([A-Za-z])-' || chr(10) || '([A-Z])', '\\1-\\2', 'g')
               AS fixed,
           CAST(len(regexp_extract_all(t,
             '[a-z]-' || chr(10) || '[a-z]')) AS BIGINT) AS n_rejoined,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z]-' || chr(10) || '[A-Z]')) AS BIGINT) AS n_kept
    FROM synth
    """,
)
def q_dehyphenate_linebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-break de-hyphenation over synthetic hyphen-wrapped text:
    lowercase continuations rejoin (exam-/ple -> example), proper-noun
    breaks keep the hyphen on one line (Berlin-/West -> Berlin-West) —
    the conservative OCR post-processing rule. Counts audit both paths.
    See extraction/pdf_text.dehyphenate; zero shuffle. (Registered as
    ``dehyphenate`` until round 5; renamed when the round-4 variant of
    the same name silently shadowed this one — round-4 verdict item 2.)"""
    from ocr_spark.extraction.pdf_text import dehyphenate

    d = F.col("doc_id").cast("string")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("exam-\nple no "), d, F.lit(" Berlin-\nWest"),
                 F.lit(" plus-\nminus end")).alias("t"),
    )
    return synth.select(
        "doc_id",
        dehyphenate(F.col("t")).alias("fixed"),
        F.size(F.regexp_extract_all(
            F.col("t"), F.lit(r"[a-z]-\n[a-z]"), F.lit(0)))
        .cast("bigint").alias("n_rejoined"),
        F.size(F.regexp_extract_all(
            F.col("t"), F.lit(r"[A-Za-z]-\n[A-Z]"), F.lit(0)))
        .cast("bigint").alias("n_kept"),
    )


@query(
    "ocr_vote",
    """
    WITH base AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    eng AS (
      SELECT doc,
             ws AS wa,
             [('0x' || substr(md5(CAST(doc AS VARCHAR) || ':'
                || CAST(i AS VARCHAR) || ':a'), 1, 4))::INTEGER % 100
              for i in generate_series(1, len(ws))] AS ca,
             [CASE WHEN i % 5 = 0 THEN 'X' || ws[i] ELSE ws[i] END
              for i in generate_series(1, len(ws))] AS wb,
             [('0x' || substr(md5(CAST(doc AS VARCHAR) || ':'
                || CAST(i AS VARCHAR) || ':b'), 1, 4))::INTEGER % 100
              for i in generate_series(1, len(ws))] AS cb
      FROM base),
    picked AS (
      SELECT doc, len(wa) AS n_words,
             [CASE WHEN cb[i] > ca[i] THEN wb[i] ELSE wa[i] END
              for i in generate_series(1, len(wa))] AS merged_arr,
             [CASE WHEN cb[i] > ca[i] THEN 1 ELSE 0 END
              for i in generate_series(1, len(wa))] AS fb
      FROM eng)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(fb), 0) AS BIGINT) AS n_from_b,
           COALESCE(array_to_string(merged_arr, ' '), '') AS merged
    FROM picked
    """,
)
def q_ocr_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-weighted dual-engine OCR word merge over synthetic
    position-aligned outputs (engine B corrupts every 5th word; both
    engines' confidences are md5-derived ints): per slot the higher
    confidence wins, ties to engine A — the word-level generalization
    of the reference's dual-pass field merge (J1). Zero shuffle. See
    extraction/pdf_text.ocr_vote."""
    from ocr_spark.extraction.pdf_text import ocr_vote

    doc = F.col("doc_id").cast("string")
    ws = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                  lambda w: w != "")

    def conf(tag: str):
        return F.transform(
            ws,
            lambda w, i: F.conv(F.substring(F.md5(F.concat(
                doc, F.lit(":"), (i + 1).cast("string"),
                F.lit(":" + tag))), 1, 4), 16, 10).cast("int") % 100,
        )

    eng = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        ws.alias("wa"),
        conf("a").alias("ca"),
        F.transform(ws, lambda w, i: F.when(
            (i + 1) % 5 == 0, F.concat(F.lit("X"), w)).otherwise(w))
        .alias("wb"),
        conf("b").alias("cb"),
    )
    out = ocr_vote(eng, "doc_id", "wa", "ca", "wb", "cb")
    return out.select(F.col("doc").alias("doc_id"), "n_words",
                      "n_from_b", "merged")


@query(
    "deskew_estimate",
    """
    WITH boxes AS (
      SELECT doc_id AS doc, (i // 5) AS line, i % 5 AS j,
             CAST(50 + (i % 5) * 120 AS BIGINT) AS x,
             CAST(100 + (i // 5) * 40 + ((i % 5) * 120 * (doc_id % 7))
                  // 1000 AS BIGINT) AS y
      FROM documents, (SELECT unnest(generate_series(0, 14)) AS i)),
    fits AS (
      SELECT doc, line, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM boxes GROUP BY doc, line),
    slopes AS (
      SELECT doc, line,
             (1000000 * (n * sxy - sx * sy))
               // (n * sxx - sx * sx) AS slope_micro
      FROM fits WHERE n >= 3),
    med AS (
      SELECT doc, slope_micro,
             ROW_NUMBER() OVER (PARTITION BY doc
               ORDER BY slope_micro, line) AS rk,
             COUNT(*) OVER (PARTITION BY doc) AS nl
      FROM slopes)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(MAX(nl) AS BIGINT) AS n_lines,
           CAST(MIN(CASE WHEN rk * 2 >= nl + 1 THEN slope_micro END)
                AS BIGINT) AS slope_micro
    FROM med GROUP BY doc
    """,
)
def q_deskew_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document skew estimate from word boxes: per text line the exact
    integer least-squares slope ((n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) in
    micro-units), then the per-doc MEDIAN line slope (robust to one
    curved header line) via the rank rule. The scan-preprocessing
    diagnostic that decides whether a page needs rotation before OCR.
    Synthetic boxes tilt by doc_id % 7 per mille. One (doc, line) agg +
    one doc-keyed median window over line-count-sized frames."""
    k = F.col("doc_id")
    boxes = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(14))).alias("i"),
    ).select(
        F.col("doc_id").alias("doc"),
        (F.col("i") / 5).cast("int").alias("line"),
        (F.lit(50) + (F.col("i") % 5) * 120).alias("x"),
        (F.lit(100) + (F.col("i") / 5).cast("int") * 40
         + F.expr("((i % 5) * 120 * (doc_id % 7)) div 1000")).alias("y"),
    )
    fits = boxes.groupBy("doc", "line").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slopes = fits.filter(F.col("n") >= 3).select(
        "doc", "line",
        F.expr("(1000000 * (n * sxy - sx * sy))"
               " div (n * sxx - sx * sx)").alias("slope_micro"),
    )
    wm = Window.partitionBy("doc").orderBy("slope_micro", "line")
    med = (slopes
           .withColumn("rk", F.row_number().over(wm))
           .withColumn("nl", F.count(F.lit(1)).over(
               Window.partitionBy("doc"))))
    return med.groupBy("doc").agg(
        F.max("nl").cast("bigint").alias("n_lines"),
        F.min(F.when(F.col("rk") * 2 >= F.col("nl") + 1,
                     F.col("slope_micro"))).cast("bigint")
        .alias("slope_micro"),
    ).select(F.col("doc").cast("bigint").alias("doc_id"), "n_lines",
             "slope_micro")


@query(
    "ocr_confusions",
    """
    WITH base AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    pairs AS (
      SELECT doc, w AS gold,
             CASE WHEN length(w) >= 3
                  THEN substr(w, 1, 1)
                       || CASE substr(w, 2, 1)
                          WHEN 'a' THEN 'o' WHEN 'e' THEN 'c'
                          WHEN 'l' THEN '1' WHEN 'o' THEN '0'
                          ELSE substr(w, 2, 1) END
                       || substr(w, 3)
                  ELSE w END AS noisy
      FROM (SELECT doc, unnest(ws) AS w FROM base)),
    chars AS (
      SELECT substr(gold, i, 1) AS g, substr(noisy, i, 1) AS n
      FROM pairs, LATERAL unnest(generate_series(1, length(gold))) AS t(i)
      WHERE length(gold) = length(noisy)),
    conf AS (
      SELECT g || '>' || n AS confusion, COUNT(*) AS cnt
      FROM chars WHERE g <> n GROUP BY g, n)
    SELECT confusion, CAST(cnt AS BIGINT) AS cnt
    FROM conf ORDER BY cnt DESC, confusion LIMIT 10
    """,
)
def q_ocr_confusions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR character-confusion mining: align equal-length gold/noisy
    word pairs (synthetic 2nd-char substitutions a>o, e>c, l>1, o>0),
    explode character positions, and rank substitution pairs by count —
    the data that builds numeric_deconfusion-style correction tables
    from a labeled sample instead of folklore. Char explode is in-row;
    one (g, n) agg + bounded top-10."""
    ws = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                  lambda w: w != "")
    pairs = _cpu(spark, sf_dir, "documents").select(
        F.explode(ws).alias("gold")
    ).select(
        "gold",
        F.when(
            F.length("gold") >= 3,
            F.concat(
                F.substring("gold", 1, 1),
                F.expr("CASE substr(gold, 2, 1)"
                       " WHEN 'a' THEN 'o' WHEN 'e' THEN 'c'"
                       " WHEN 'l' THEN '1' WHEN 'o' THEN '0'"
                       " ELSE substr(gold, 2, 1) END"),
                F.expr("substr(gold, 3)"),
            )).otherwise(F.col("gold")).alias("noisy"),
    )
    chars = (
        pairs.filter(F.length("gold") == F.length("noisy"))
        .select(F.explode(F.zip_with(
            F.split(F.col("gold"), ""),
            F.split(F.col("noisy"), ""),
            lambda g, n: F.struct(g.alias("g"), n.alias("n")),
        )).alias("p"))
        .select(F.col("p.g").alias("g"), F.col("p.n").alias("n"))
        .filter((F.col("g") != F.col("n")) & (F.col("g") != "")
                & (F.col("n") != ""))
    )
    return (
        chars.groupBy("g", "n").agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.concat(F.col("g"), F.lit(">"), F.col("n"))
                .alias("confusion"),
                F.col("cnt").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("confusion"))
        .limit(10)
    )


@query(
    "kv_from_boxes",
    """
    WITH boxes AS (
      SELECT doc_id AS doc, i,
             CASE WHEN i % 2 = 0
                  THEN 'field' || CAST(i // 2 AS VARCHAR) || ':'
                  ELSE 'value' || CAST(doc_id AS VARCHAR) || '_'
                       || CAST(i // 2 AS VARCHAR) END AS w,
             CAST(60 + (i % 2) * 200 AS BIGINT) AS x,
             CAST(50 + (i // 2) * 30 AS BIGINT) AS y
      FROM documents, (SELECT unnest(generate_series(0, 7)) AS i)),
    nxt AS (
      SELECT doc, w, x, y,
             LEAD(w) OVER (PARTITION BY doc, y ORDER BY x) AS next_w,
             LEAD(x) OVER (PARTITION BY doc, y ORDER BY x) AS next_x
      FROM boxes)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           rtrim(w, ':') AS field,
           next_w AS value,
           CAST(next_x - x AS BIGINT) AS gap_px
    FROM nxt
    WHERE w LIKE '%:' AND next_w IS NOT NULL
    """,
)
def q_kv_from_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-value extraction from box layout: a label box (text ending
    in ':') pairs with the next box to its right on the same line — the
    form-understanding primitive behind every invoice/ID extractor
    (the reference's field extractors do this implicitly via regex over
    linearized text; this is the layout-aware version). One (doc, line)
    window; labels without a right neighbor drop."""
    k = F.col("doc_id")
    boxes = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"),
    ).select(
        F.col("doc_id").alias("doc"),
        F.when(F.col("i") % 2 == 0,
               F.concat(F.lit("field"),
                        (F.col("i") / 2).cast("int").cast("string"),
                        F.lit(":")))
        .otherwise(F.concat(F.lit("value"), k.cast("string"), F.lit("_"),
                            (F.col("i") / 2).cast("int").cast("string")))
        .alias("w"),
        (F.lit(60) + (F.col("i") % 2) * 200).alias("x"),
        (F.lit(50) + (F.col("i") / 2).cast("int") * 30).alias("y"),
    )
    wl = Window.partitionBy("doc", "y").orderBy("x")
    nxt = (boxes
           .withColumn("next_w", F.lead("w").over(wl))
           .withColumn("next_x", F.lead("x").over(wl)))
    return (
        nxt.filter(F.col("w").endswith(":") & F.col("next_w").isNotNull())
        .select(
            F.col("doc").cast("bigint").alias("doc_id"),
            F.regexp_replace(F.col("w"), ":$", "").alias("field"),
            F.col("next_w").alias("value"),
            (F.col("next_x") - F.col("x")).cast("bigint").alias("gap_px"),
        )
    )


def _verhoeff_oracle() -> str:
    from ocr_spark.functions.extractors import VERHOEFF_D, VERHOEFF_P

    def ll(rows):
        return ("[" + ", ".join(
            "[" + ", ".join(str(v) for v in r) + "]" for r in rows) + "]")

    # the number is always 12 digits, so the group fold unrolls exactly
    # (DuckDB's list_reduce cannot carry an accumulator of a different
    # type than the list elements)
    c = "0"
    for i in range(12):
        dg = f"CAST(substr(reverse(num), {i + 1}, 1) AS INTEGER)"
        c = f"{ll(VERHOEFF_D)}[({c}) + 1][{ll(VERHOEFF_P)}[{i % 8} + 1][{dg} + 1] + 1]"
    return f"""
    WITH synth AS (
      SELECT doc_id,
             lpad(CAST((doc_id * 987654321 + 111111111111)
                       % 1000000000000 AS VARCHAR), 12, '0') AS num
      FROM documents)
    SELECT doc_id, num,
           CAST(CASE WHEN ({c}) = 0 THEN 1 ELSE 0 END AS INTEGER) AS valid
    FROM synth
    """


@query("verhoeff_check", _verhoeff_oracle())
def q_verhoeff_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Verhoeff checksum validation of synthetic 12-digit ids —
    the production implementation of the check the reference stubs to
    `return True` (aadhaar.py:170-172). Catches the single-digit errors
    and adjacent transpositions OCR actually produces, which format
    rules cannot. One in-row digit fold over literal group tables; no
    shuffle. See functions/extractors.verhoeff_valid."""
    from ocr_spark.functions.extractors import verhoeff_valid

    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("lpad(CAST((doc_id * 987654321 + 111111111111)"
               " % 1000000000000 AS STRING), 12, '0')").alias("num"),
    )
    return synth.select(
        "doc_id", "num",
        verhoeff_valid(F.col("num")).cast("int").alias("valid"),
    )


@query(
    "locale_numbers",
    """
    WITH synth AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN '1.' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || ',5' || CAST(doc_id % 10 AS VARCHAR)
                  WHEN doc_id % 4 = 1
                  THEN '1,' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '.5' || CAST(doc_id % 10 AS VARCHAR)
                  WHEN doc_id % 4 = 2
                  THEN CAST(doc_id % 90 + 10 AS VARCHAR) || '.'
                       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  ELSE '1,' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             END AS raw
      FROM documents),
    parsed AS (
      SELECT doc_id, raw,
             CASE
               WHEN regexp_matches(raw, '^[0-9.]+,[0-9]{2}$') THEN
                 CAST(replace(regexp_replace(raw, ',[0-9]*$', ''),
                              '.', '') AS BIGINT) * 100
                 + CAST(regexp_extract(raw, ',([0-9]{2})$', 1) AS BIGINT)
               WHEN regexp_matches(raw, '^[0-9,]+\\.[0-9]{2}$') THEN
                 CAST(replace(regexp_replace(raw, '\\.[0-9]*$', ''),
                              ',', '') AS BIGINT) * 100
                 + CAST(regexp_extract(raw, '\\.([0-9]{2})$', 1) AS BIGINT)
             END AS cents,
             CAST(regexp_matches(raw, '^[0-9]+,[0-9]{3}$') AS INTEGER)
                 AS ambiguous
      FROM synth)
    SELECT doc_id, raw,
           CAST(cents AS BIGINT) AS cents,
           ambiguous
    FROM parsed
    """,
)
def q_locale_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-aware numeric parsing: European 1.234,56 and US 1,234.56
    both resolve to exact cents (the LAST separator with exactly two
    trailing digits is decimal; the other strips as grouping);
    comma+3-digits forms (1,234) flag ambiguous and parse NULL rather
    than guessing — the silent 1000x corruption in naive float casts of
    scraped prices. Pure regexp/CASE projection."""
    k = F.col("doc_id")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 4 = 0"
            " THEN '1.' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')"
            " || ',5' || CAST(doc_id % 10 AS STRING)"
            " WHEN doc_id % 4 = 1"
            " THEN '1,' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')"
            " || '.5' || CAST(doc_id % 10 AS STRING)"
            " WHEN doc_id % 4 = 2"
            " THEN CAST(doc_id % 90 + 10 AS STRING) || '.'"
            " || lpad(CAST(doc_id % 100 AS STRING), 2, '0')"
            " ELSE '1,' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')"
            " END").alias("raw"),
    )
    eu = F.col("raw").rlike(r"^[0-9.]+,[0-9]{2}$")
    us = F.col("raw").rlike(r"^[0-9,]+\.[0-9]{2}$")
    cents = (
        F.when(eu,
               F.regexp_replace(
                   F.regexp_replace(F.col("raw"), r",[0-9]*$", ""),
                   r"\.", "").cast("bigint") * 100
               + F.regexp_extract(F.col("raw"), r",([0-9]{2})$", 1)
               .cast("bigint"))
        .when(us,
              F.regexp_replace(
                  F.regexp_replace(F.col("raw"), r"\.[0-9]*$", ""),
                  ",", "").cast("bigint") * 100
              + F.regexp_extract(F.col("raw"), r"\.([0-9]{2})$", 1)
              .cast("bigint"))
    )
    return synth.select(
        "doc_id", "raw",
        cents.cast("bigint").alias("cents"),
        F.col("raw").rlike(r"^[0-9]+,[0-9]{3}$").cast("int")
        .alias("ambiguous"),
    )


_GOLDEN_JSONL = os.path.abspath(os.path.join(
    os.path.dirname(__file__), os.pardir, os.pardir,
    "tests", "fixtures", "golden.jsonl"))


@query(
    "golden_pipeline",
    f"""
    SELECT url, text_sha256, doc_type, decision
    FROM read_json_auto('{_GOLDEN_JSONL}')
    """,
)
def q_golden_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule gate as a driver-visible row: run the FULL
    extraction pipeline (DOM strip + OCR decode + span merge + classify +
    extract + score + decide) over the 300-page golden corpus and return
    per-url (sha256 of NFC-normalized extracted text, doc_type, decision);
    the DuckDB oracle reads the checked-in goldens
    (tests/fixtures/golden.jsonl), so a value-hash green here IS
    byte-identity per url against the reference extractor's outputs —
    previously pytest-only evidence (round-3 verdict item 7).

    Ignores sf_dir by design: the goldens pin one exact corpus
    (fixtures/corpus.write_corpus(n=300), deterministic)."""
    import importlib

    from ocr_spark.functions.curation import _nfc
    from ocr_spark.pipeline import run_pipeline

    corpus = importlib.import_module("ocr_spark.fixtures.corpus")
    d = "/tmp/ocr_spark_golden_corpus_300"
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        corpus.write_corpus(d, 300)
        with open(marker, "w") as f:
            f.write("ok")
    out = run_pipeline(
        spark, os.path.join(d, "pages.parquet"), os.path.join(d, "payloads.parquet")
    )
    return out.select(
        "url",
        F.sha2(F.encode(_nfc(F.col("extracted_text")), "UTF-8"), 256)
        .alias("text_sha256"),
        "doc_type",
        "decision",
    )


_PDF_INFO_SYNTH = (
    ["%PDF-1.4 << /Title (Report ", _DOC_ID, ") /Author (Crawler Bot) "
     "/Producer (ocrspark 1.0) /CreationDate (D:20240115093045) >>"],
    ["%PDF-1.4 << /Title (Esc \\(draft\\) ", _DOC_ID,
     ") /CreationDate (D:20231201) >>"],
    ["%PDF-1.4 << /Author (Anon) /CreationDate (D:2022) >>"],
    ["%PDF-1.4 << /Title (T", _DOC_ID,
     ") /CreationDate (D:20240301120000+05'30') >>"],
    ["%PDF-1.4 no info dict"],
)


def _pdf_info_oracle() -> str:
    lit = r"\(((?:[^()\\]|\\.)*)\)"
    unesc = (
        "regexp_replace(regexp_replace(regexp_replace("
        "{X}, '\\\\\\(', '(', 'g'), '\\\\\\)', ')', 'g'),"
        " '\\\\\\\\', '\\\\', 'g')"
    )
    def field(key: str) -> str:
        raw = f"regexp_extract(pdf, '(?s)/{key}\\s*{lit}', 1)"
        full = f"regexp_extract(pdf, '(?s)/{key}\\s*\\((?:[^()\\\\]|\\\\.)*\\)', 0)"
        u = unesc.format(X=raw)
        return f"CASE WHEN {full} != '' THEN {u} END"
    dpat = (
        "D:([0-9]{4})([0-9]{2})?([0-9]{2})?"
        "([0-9]{2})?([0-9]{2})?([0-9]{2})?"
    )
    def g(i: int, dflt: str) -> str:
        return (f"CASE WHEN regexp_extract(d, '{dpat}', {i}) != ''"
                f" THEN regexp_extract(d, '{dpat}', {i})"
                f" ELSE '{dflt}' END")
    return f"""
    WITH synth AS (
      SELECT doc_id, {case_sql('doc_id', _PDF_INFO_SYNTH)} AS pdf
      FROM documents),
    dd AS (
      SELECT doc_id, pdf,
             regexp_extract(pdf,
               '/CreationDate\\s*\\({dpat}', 0) AS d
      FROM synth)
    SELECT doc_id,
           CAST(regexp_extract(pdf, '(?s)<<(.*?)>>', 0) != '' AS INTEGER)
             AS has_info,
           {field("Title")} AS title,
           {field("Author")} AS author,
           {field("Producer")} AS producer,
           CASE WHEN d != '' THEN
             {g(1, "")} || '-' || {g(2, "01")} || '-' || {g(3, "01")}
             || ' ' || {g(4, "00")} || ':' || {g(5, "00")}
             || ':' || {g(6, "00")}
           END AS created
    FROM dd
    """


@query("pdf_info_metadata", _pdf_info_oracle())
def q_pdf_info_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF Info-dictionary metadata parse over synthetic Info dicts
    (full dict, escaped-paren title, authorless, timezone-suffixed date,
    prefix-truncated dates per the PDF spec, and a no-Info family).
    See extraction/pdf_text.pdf_info_metadata."""
    from ocr_spark.extraction.pdf_text import pdf_info_metadata

    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _PDF_INFO_SYNTH).alias("pdf"))
    return pdf_info_metadata(synth, "doc_id", "pdf")
