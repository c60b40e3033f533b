"""Stage A operator: batched DOM parsing + main-content extraction via
mapInArrow (graft analog of the reference's segmentation stage, SURVEY.md
§2.9 G1-G8). The job parses inside its one document stage
(``operators.document``); this stage is the per-layer ledger's DOM-parse
cut and the stage A input of the differential tests' Catalyst reference."""

from __future__ import annotations

from collections.abc import Iterator
from operator import attrgetter

import pyarrow as pa
from pyspark.sql import DataFrame

from ocr_spark.extraction.html_extract import extract_page

# Output columns after the url, warc_ts and lang pass-throughs, in order:
# dom_text and payload_id are derived from the ExtractResult, every other
# column is its attribute of the same name. The Arrow batch schema and the
# mapInArrow DDL are both read off this one list.
_FIELDS = [
    pa.field("dom_text", pa.string()),
    pa.field("payload_id", pa.string()),
    pa.field("n_blocks", pa.int32()),
    pa.field("n_content_blocks", pa.int32()),
    pa.field("n_doc_regions", pa.int32()),
    pa.field("total_chars", pa.int64()),
    pa.field("text_chars", pa.int64()),
    pa.field("content_chars", pa.int64()),
    pa.field("link_chars", pa.int64()),
    pa.field("tag_count", pa.int64()),
    pa.field("blur_raw", pa.float64()),
    pa.field("brightness_raw", pa.float64()),
    pa.field("contrast_raw", pa.float64()),
    pa.field("edge_density_raw", pa.float64()),
    pa.field("glare_raw", pa.float64()),
    pa.field("resolution_raw", pa.float64()),
]
_METRICS = [(attrgetter(f.name), f.type) for f in _FIELDS[2:]]
_DDL = {pa.string(): "string", pa.int32(): "int", pa.int64(): "long",
        pa.float64(): "double"}
STAGE_A_SCHEMA = "url string, warc_ts timestamp, lang string, " + ", ".join(
    f"{f.name} {_DDL[f.type]}" for f in _FIELDS)


def _stage_a_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        ts = batch.column("warc_ts")
        htmls = batch.column("html").to_pylist()
        results = [extract_page(h or b"") for h in htmls]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                ts,
                batch.column("lang"),
                pa.array([r.text for r in results], pa.string()),
                pa.array([r.payload_ids[0] if r.payload_ids else None for r in results], pa.string()),
                *(pa.array(list(map(get, results)), t) for get, t in _METRICS),
            ],
            schema=pa.schema([
                pa.field("url", pa.string()), pa.field("warc_ts", ts.type),
                pa.field("lang", pa.string()), *_FIELDS]),
        )


def stage_a(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> extracted text + page metrics."""
    return pages.select("url", "warc_ts", "lang", "html").mapInArrow(
        _stage_a_batches, STAGE_A_SCHEMA
    )
