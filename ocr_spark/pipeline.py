"""End-to-end extraction pipeline: one lazily-composed DataFrame program.

    read pages  ──repartition(xxhash64(url))──►  stage A (mapInArrow)
    read payloads ──────────────────────────►  stage B (mapInArrow)
            └─ join on url ─►  native expressions: classification, dual-pass
               field extraction + priority merge, 10-component scoring,
               decision CASE chain  ─►  output columns

The hash(url) salt repartition before stage A defuses crawl-order host skew
(north rule); everything after the two Arrow stages is pure Catalyst (single
WholeStageCodegen region per projection), mirroring SURVEY.md §3.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import config as C
from ocr_spark.functions import scoring
from ocr_spark.functions.classify import classify
from ocr_spark.functions.extractors import ALL_FIELDS, FIELD_BUILDERS
from ocr_spark.functions.quality import quality_columns
from ocr_spark.functions.wordstats import split_words, word_stat_columns
from ocr_spark.operators.stage_a import stage_a
from ocr_spark.operators.stage_b import stage_b

OUTPUT_COLUMNS = [
    "url", "warc_ts", "lang", "extracted_text", "doc_type", "extracted_fields",
    "decision", "hard_rejection", "final_score", "quality_score", "quality_passed",
    "quality_reasons", "ocr_confidence_score", "total_words", "low_confidence_words",
    "numeric_words", "mean_confidence", "fuzzy_score", "schema_score",
    "distribution_score", "non_alnum_ratio", "business_failures",
    "multi_document", "conflicting_schemas",
]


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


def _read(spark: SparkSession, src: str | DataFrame) -> DataFrame:
    return spark.read.parquet(src) if isinstance(src, str) else src


def run_pipeline(
    spark: SparkSession,
    pages: str | DataFrame,
    payloads: str | DataFrame | None = None,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Compose the full extraction plan; lazy — caller writes or collects.

    pages / payloads: a parquet path or a DataFrame each; without payloads
    every page has no recognized text. The payload join is a plain left
    join on url: Spark broadcasts a small payload side from its scan
    estimate, and AQE can still turn a shuffled join into a broadcast once
    it sees the recognized-text bytes at runtime."""
    pages = _read(spark, pages)
    # Skew defuse: crawl files cluster by host; hash(url) spreads hot hosts
    # uniformly before the compute-heavy Arrow stage (north rule). The count
    # is EXPLICIT (cores x SALT_PARTITIONS_PER_CORE): letting AQE size this
    # shuffle by bytes coalesces a CPU-bound Arrow stage into a handful of
    # tasks (html bytes are small; per-doc parse cost is not) and destroys
    # parallelism — measured 5x slower at 24k pages.
    if salt_partitions is None:
        salt_partitions = spark.sparkContext.defaultParallelism * C.SALT_PARTITIONS_PER_CORE
    pages = pages.repartition(salt_partitions, F.xxhash64("url"))

    a = stage_a(pages)

    if payloads is not None:
        # Same salt treatment as pages: payload files are small in BYTES but
        # each row is expensive to recognize, so a byte-sized scan split
        # would run stage B on a handful of tasks. Spread by hash(url)
        # explicitly (north rule: both Arrow stages get skew-defused input).
        payloads = _read(spark, payloads).repartition(salt_partitions, F.xxhash64("url"))
        a = a.join(stage_b(payloads), "url", "left")
    else:
        a = a.withColumn("ocr_text", F.lit(None).cast("string")).withColumn(
            "ocr_conf", F.lit(None).cast("double")
        )

    ocr_text = F.coalesce(F.col("ocr_text"), F.lit(""))
    has_ocr = F.length(ocr_text) > 0
    full_text = F.when(
        F.length("dom_text") == 0, ocr_text
    ).otherwise(
        F.when(has_ocr, F.concat(F.col("dom_text"), F.lit("\n"), ocr_text)).otherwise(F.col("dom_text"))
    )

    # Column batches are added via ONE withColumns per dependency level —
    # sequential withColumn re-analyzes the (large) plan per call and made
    # driver-side planning the pipeline bottleneck, not execution.
    df = a.withColumns({"extracted_text": full_text, "has_ocr": has_ocr})

    # Classification (A4) on the primary (merged) text.
    cls = classify(F.col("extracted_text"))
    df = df.withColumn("doc_type", cls["doc_type"])

    # Multi-document + conflicting-schema flags (reference pipeline.py:
    # 170-197 and spatial_validator.py:150-187, graft analogs): >1 content
    # cluster holding >= MIN_REGION_CONTENT_RATIO of the page's content
    # chars -> multi_document (review); >= 2 distinct core ids of the
    # classified type -> conflicting_schemas (hard reject).
    df = df.withColumns({
        "multi_document": F.col("n_doc_regions") > 1,
        "conflicting_schemas":
            scoring.distinct_core_ids(F.col("extracted_text"), F.col("doc_type")) > 1,
    })

    # Field extraction (X1-X18) with dual-pass merge — materialized as
    # concrete columns so every downstream score reads them once. The
    # Devanagari folds are materialized too (shared by four extractors each).
    from ocr_spark.functions.normalize import devanagari_to_arabic

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
    # them ~6x and an interpreted projection re-runs inlined regexp scans
    # per reference (no cross-column CSE).
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
