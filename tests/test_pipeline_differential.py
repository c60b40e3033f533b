"""The extraction job against an independent Catalyst composition of the
same semantics, over all 24 output columns, plus the shape of its plan.

``run_pipeline`` computes every document in one Python pass (the oracle's
``score_page`` inside one mapInArrow). The reference below is the native
expression library of ``ocr_spark.functions`` composed the way the job ran
before that pass existed: stage A -> stage B -> join on url -> classify /
dual-pass extract / score / decide as Catalyst columns. Agreement between
the two is agreement between two implementations of the reference
pipeline, not a tautology."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ocr_spark import config as C
from ocr_spark.fixtures.corpus import make_page, render_payload
from ocr_spark.functions import scoring
from ocr_spark.functions.classify import classify
from ocr_spark.functions.extractors import ALL_FIELDS, FIELD_BUILDERS
from ocr_spark.functions.normalize import devanagari_to_arabic
from ocr_spark.functions.quality import quality_columns
from ocr_spark.functions.wordstats import split_words, word_stat_columns
from ocr_spark.operators.document import OUTPUT_COLUMNS
from ocr_spark.operators.stage_a import stage_a
from ocr_spark.operators.stage_b import stage_b
from ocr_spark.oracle.reference_semantics import process_page
from ocr_spark.pipeline import run_pipeline


def _split_lines(text):
    return F.when(F.length(text) == 0, F.array().cast("array<string>")).otherwise(
        F.split(text, "\n")
    )


def merged_fields(doc_type, dom_text, full_text, has_ocr,
                  arab_dom=None, arab_full=None) -> dict:
    """Dual-pass extraction + priority merge (J1, reference pipeline.py:285-316).

    Standard pass = DOM text; enhanced pass = DOM + recognized payload text.
    Enhanced fills gaps only for the type's priority fields; the aadhaar
    id_number alias is set only on the enhanced-fill path (pipeline.py:303-305
    — the std-pass alias is commented out in aadhaar.py:38).
    arab_dom/arab_full: materialized Devanagari folds shared across the
    folding extractors (one fold per row per pass, not one per field)."""
    dom_words, dom_lines = split_words(dom_text), _split_lines(dom_text)
    full_words, full_lines = split_words(full_text), _split_lines(full_text)

    per_type: dict[str, dict] = {}
    for t, builder in FIELD_BUILDERS.items():
        kw_std = {"arab": arab_dom} if t == "aadhaar" and arab_dom is not None else {}
        kw_enh = {"arab": arab_full} if t == "aadhaar" and arab_full is not None else {}
        std = builder(dom_text, dom_words, dom_lines, **kw_std)
        enh = builder(full_text, full_words, full_lines, **kw_enh)
        priority = C.PRIORITY_FIELDS[t]
        merged = {}
        for fname, col in std.items():
            if fname in priority:
                merged[fname] = F.when(has_ocr, F.coalesce(col, enh[fname])).otherwise(col)
            else:
                merged[fname] = col
        if t == "aadhaar":
            merged["id_number"] = F.when(
                has_ocr & std["aadhaar_number"].isNull() & enh["aadhaar_number"].isNotNull(),
                enh["aadhaar_number"],
            )
        per_type[t] = merged

    out = {}
    for fname in ALL_FIELDS + ["id_number"]:
        if fname in out:
            continue
        col = F.when(doc_type == "aadhaar",
                     per_type["aadhaar"].get(fname, F.lit(None)).cast("string"))
        col = col.when(doc_type == "pan", per_type["pan"].get(fname, F.lit(None)).cast("string"))
        col = col.when(doc_type == "vehicle_rc",
                       per_type["vehicle_rc"].get(fname, F.lit(None)).cast("string"))
        out[fname] = col
    return out


def catalyst_reference(spark, pages_path: str, payloads_path: str):
    """Stage A -> stage B -> join -> the classify/extract/score/decide block
    as native expressions, over salted inputs like the job's."""
    salt = spark.sparkContext.defaultParallelism * C.SALT_PARTITIONS_PER_CORE
    a = stage_a(spark.read.parquet(pages_path).repartition(salt, F.xxhash64("url")))
    b = stage_b(spark.read.parquet(payloads_path).repartition(salt, F.xxhash64("url")))
    a = a.join(b, "url", "left")

    ocr_text = F.coalesce(F.col("ocr_text"), F.lit(""))
    has_ocr = F.length(ocr_text) > 0
    full_text = F.when(
        F.length("dom_text") == 0, ocr_text
    ).otherwise(
        F.when(has_ocr, F.concat(F.col("dom_text"), F.lit("\n"), ocr_text)).otherwise(F.col("dom_text"))
    )

    # One withColumns per dependency level: sequential withColumn
    # re-analyzes the (large) plan per call.
    df = a.withColumns({"extracted_text": full_text, "has_ocr": has_ocr})

    # Classification (A4) on the primary (merged) text.
    cls = classify(F.col("extracted_text"))
    df = df.withColumn("doc_type", cls["doc_type"])

    # Multi-document + conflicting-schema flags (reference pipeline.py:
    # 170-197 and spatial_validator.py:150-187, graft analogs).
    df = df.withColumns({
        "multi_document": F.col("n_doc_regions") > 1,
        "conflicting_schemas":
            scoring.distinct_core_ids(F.col("extracted_text"), F.col("doc_type")) > 1,
    })

    # Field extraction (X1-X18) with dual-pass merge, materialized as
    # concrete columns; the Devanagari folds are materialized too (shared by
    # four extractors each).
    df = df.withColumns({
        "_arab_dom": devanagari_to_arabic(F.col("dom_text")),
        "_arab_full": devanagari_to_arabic(F.col("extracted_text")),
    })
    fields = merged_fields(
        F.col("doc_type"), F.col("dom_text"), F.col("extracted_text"), F.col("has_ocr"),
        arab_dom=F.col("_arab_dom"), arab_full=F.col("_arab_full"),
    )
    df = df.withColumns({f"f_{fname}": col for fname, col in fields.items()})
    field_cols = {fname: F.col(f"f_{fname}") for fname in fields}

    batch: dict[str, F.Column] = {}
    # Word stats + OCR confidence (A1-A3).
    batch.update(word_stat_columns(
        F.col("dom_text"), ocr_text, F.coalesce(F.col("ocr_conf"), F.lit(0.0)) * 100.0
    ))
    # Quality composite + gate (F7/F8).
    batch.update(quality_columns(
        F.col("blur_raw"), F.col("brightness_raw"), F.col("resolution_raw"),
        F.col("contrast_raw"), F.col("edge_density_raw"), F.col("glare_raw"),
    ))
    # Char-class counts materialize first: the distribution score references
    # them ~6x and an interpreted projection has no cross-column CSE.
    counts = scoring.char_class_counts(F.col("extracted_text"))
    df = df.withColumns({
        "_cc_total": counts["total"],
        "_cc_numeric": counts["numeric"],
        "_cc_special": counts["special"],
    })
    # Validation scores.
    batch["fuzzy_score"] = scoring.anchor_score(F.col("extracted_text"), F.col("doc_type"))
    batch["schema_score"] = scoring.schema_score(F.col("doc_type"), field_cols)
    batch["distribution_score"] = scoring.distribution_score_from_counts(
        F.col("doc_type"), F.col("_cc_total"), F.col("_cc_numeric"), F.col("_cc_special"))
    batch["non_alnum_ratio"] = scoring.non_alnum_ratio_from_counts(
        F.col("_cc_total"), F.col("_cc_special"))
    batch["business_failures"] = scoring.missing_critical(F.col("doc_type"), field_cols)
    df = df.withColumns(batch)
    df = df.withColumn(
        "mandatory_present",
        scoring.mandatory_present(F.col("doc_type"), field_cols)
        & (F.size("business_failures") == 0),
    )

    # 10-component confidence (A10) with the reference's aliases:
    # regex=schema (pipeline.py:362), layout=ocr (pipeline.py:330), kv=0.5
    # (key_value.py:32), spatial=1.0 (no-boxes default, pipeline.py:365).
    parts = {
        "image_quality": F.col("quality_score"),
        "ocr_confidence": F.col("ocr_confidence_score"),
        "regex": F.col("schema_score"),
        "fuzzy": F.col("fuzzy_score"),
        "layout": F.col("ocr_confidence_score"),
        "kv": F.lit(0.5),
        "consistency": F.when(F.col("mandatory_present"), F.lit(1.0)).otherwise(F.lit(0.5)),
        "schema": F.col("schema_score"),
        "distribution": F.col("distribution_score"),
        "spatial": F.lit(1.0),
    }
    final_batch = {"final_score": scoring.final_confidence(parts)}

    dec = scoring.decision_columns(
        final_score=final_batch["final_score"],
        quality_passed=F.col("quality_passed"),
        text_detected=F.col("total_words") > 0,
        mandatory=F.col("mandatory_present"),
        non_alnum=F.col("non_alnum_ratio"),
        multi_document=F.col("multi_document"),
        conflicting_schemas=F.col("conflicting_schemas"),
        has_business_failures=F.size("business_failures") > 0,
    )
    final_batch["decision"] = dec["decision"]
    final_batch["hard_rejection"] = dec["hard_rejection"]

    # extracted_fields map (MapType keeps the dynamic per-type key set).
    kvs = []
    for fname in field_cols:
        kvs.append(F.lit(fname))
        kvs.append(field_cols[fname])
    final_batch["extracted_fields"] = F.map_filter(
        F.map_from_arrays(
            F.array(*kvs[0::2]), F.array(*[c.cast("string") for c in kvs[1::2]])
        ),
        lambda _, v: v.isNotNull(),
    )
    df = df.withColumns(final_batch)

    return df.select(*OUTPUT_COLUMNS)


def _rows(df) -> dict[str, dict]:
    return {r["url"]: r.asDict() for r in df.collect()}


def _mismatches(got: dict[str, dict], want: dict[str, dict]) -> list[tuple]:
    """(url, column, got, want) for every differing cell: exact for strings,
    arrays and maps, within 1e-9 for doubles."""
    assert set(got) == set(want)
    bad = []
    for url, row in want.items():
        for col in OUTPUT_COLUMNS:
            g, w = got[url][col], row[col]
            same = abs(g - w) <= 1e-9 if isinstance(w, float) and g is not None else g == w
            if not same:
                bad.append((url, col, g, w))
    return bad


def _check_against_reference(spark, corpus: str) -> None:
    pages, payloads = (os.path.join(corpus, f) for f in ("pages.parquet", "payloads.parquet"))
    bad = _mismatches(_rows(run_pipeline(spark, pages, payloads)),
                      _rows(catalyst_reference(spark, pages, payloads)))
    assert not bad, f"{len(bad)} cells differ, e.g. {bad[:3]}"


def test_all_columns_match_catalyst_reference_on_golden_corpus(spark, corpus_dir):
    _check_against_reference(spark, corpus_dir)


def test_all_columns_match_catalyst_reference_on_2000_pages(spark, tmp_path):
    from ocr_spark.fixtures.corpus import write_corpus

    write_corpus(str(tmp_path), 2000)
    _check_against_reference(spark, str(tmp_path))


def test_oracle_matches_pipeline_in_every_column(spark, corpus_dir):
    """process_page is the same score_page the job runs: every column of the
    table, business_failures included, equals the oracle's value."""
    from tests.conftest import GOLDEN_ROWS

    got = _rows(run_pipeline(spark, os.path.join(corpus_dir, "pages.parquet"),
                             os.path.join(corpus_dir, "payloads.parquet")))
    want = {}
    for i in range(GOLDEN_ROWS):
        p = make_page(i)
        blob = render_payload(p["payload_text"]) if p["payload_text"] else None
        o = process_page(p["html"], blob)
        want[p["url"]] = {**got[p["url"]], **{c: o[c] for c in OUTPUT_COLUMNS[3:]}}
    assert not _mismatches(got, want)
    assert any(r["business_failures"] for r in want.values())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _arrow_stage_tasks(spark, df) -> tuple[dict, int]:
    """Collect df under a job group; return its rows and the task count of
    its final stage, the one that runs the mapInArrow."""
    sc = spark.sparkContext
    sc.setJobGroup("arrow_stage_tasks", "document stage task count")
    try:
        rows = _rows(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup("arrow_stage_tasks"))
    last_stage = max(tracker.getJobInfo(last_job).stageIds)
    return rows, tracker.getStageInfo(last_stage).numTasks


def test_plan_is_one_arrow_stage_with_salted_parallelism(spark, corpus_dir):
    """One MapInArrow and no Python UDF node in the executed plan. The salt
    count sets the Arrow stage's task count whichever join the planner
    picks, and the outputs do not depend on the join."""
    pages = os.path.join(corpus_dir, "pages.parquet")
    payloads = os.path.join(corpus_dir, "payloads.parquet")

    def run() -> tuple[str, dict]:
        df = run_pipeline(spark, pages, payloads, salt_partitions=6)
        rows, tasks = _arrow_stage_tasks(spark, df)
        plan = _plan(df)
        assert plan.split("== Initial Plan ==")[0].count("MapInArrow") == 1, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
        assert tasks == 6
        return plan, rows

    plan, broadcast_rows = run()
    assert "BroadcastHashJoin" in plan, plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan, shuffled_rows = run()
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan
    assert not _mismatches(shuffled_rows, broadcast_rows)
