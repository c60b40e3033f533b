"""The extraction job's one Python stage: every per-document step in a
single mapInArrow (the reference's per-image flow, core/pipeline.py:119-485).

Per Arrow batch it parses every page's html (stage A's ``extract_page``),
recognizes the batch's payloads in ONE ``recognize_batch`` call, which keeps
the cross-row glyph matmul, and scores each document with the oracle's
``score_page``. The per-document semantics therefore have one spelling, and
the job crosses JVM<->Python once, with no Catalyst projection between
Python steps."""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ocr_spark.extraction.html_extract import extract_page
from ocr_spark.extraction.recognizer import decode_payload, recognize_batch
from ocr_spark.oracle.reference_semantics import score_page

# score_page's output columns, in table order, after the url, warc_ts and
# lang pass-throughs. The Arrow batch schema and the mapInArrow DDL are both
# read off this one list.
_FIELDS = [
    pa.field("extracted_text", pa.string()),
    pa.field("doc_type", pa.string()),
    pa.field("extracted_fields", pa.map_(pa.string(), pa.string())),
    pa.field("decision", pa.string()),
    pa.field("hard_rejection", pa.bool_()),
    pa.field("final_score", pa.float64()),
    pa.field("quality_score", pa.float64()),
    pa.field("quality_passed", pa.bool_()),
    pa.field("quality_reasons", pa.list_(pa.string())),
    pa.field("ocr_confidence_score", pa.float64()),
    pa.field("total_words", pa.int32()),
    pa.field("low_confidence_words", pa.int32()),
    pa.field("numeric_words", pa.int32()),
    pa.field("mean_confidence", pa.float64()),
    pa.field("fuzzy_score", pa.float64()),
    pa.field("schema_score", pa.float64()),
    pa.field("distribution_score", pa.float64()),
    pa.field("non_alnum_ratio", pa.float64()),
    pa.field("business_failures", pa.list_(pa.string())),
    pa.field("multi_document", pa.bool_()),
    pa.field("conflicting_schemas", pa.bool_()),
]
_DDL = {pa.string(): "string", pa.bool_(): "boolean", pa.int32(): "int",
        pa.float64(): "double", pa.list_(pa.string()): "array<string>",
        pa.map_(pa.string(), pa.string()): "map<string,string>"}
OUTPUT_COLUMNS = ["url", "warc_ts", "lang", *(f.name for f in _FIELDS)]
DOCUMENT_SCHEMA = "url string, warc_ts timestamp, lang string, " + ", ".join(
    f"{f.name} {_DDL[f.type]}" for f in _FIELDS)


def _document_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        ts = batch.column("warc_ts")
        pages = [extract_page(h or b"") for h in batch.column("html").to_pylist()]
        # a NULL payload decodes to None, which recognize_batch reads as ""
        ocr = recognize_batch([decode_payload(b) for b in batch.column("payload").to_pylist()])
        rows = [score_page(page, text, conf) for page, (text, conf, _) in zip(pages, ocr)]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                ts,
                batch.column("lang"),
                *(pa.array([r[f.name] for r in rows], f.type) for f in _FIELDS),
            ],
            schema=pa.schema([
                pa.field("url", pa.string()), pa.field("warc_ts", ts.type),
                pa.field("lang", pa.string()), *_FIELDS]),
        )


def document_stage(docs: DataFrame) -> DataFrame:
    """docs(url, warc_ts, lang, html, payload) -> the OUTPUT_COLUMNS row of
    each document; a NULL payload means the page has none."""
    return docs.select("url", "warc_ts", "lang", "html", "payload").mapInArrow(
        _document_batches, DOCUMENT_SCHEMA
    )
