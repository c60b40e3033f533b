"""Stage B operator: batched character recognition via mapInArrow (rebuild of
the reference's OCR stage, SURVEY.md §2.9 G10), one matmul per Arrow batch
(``recognize_batch``). The job recognizes inside its one document stage
(``operators.document``); this stage is the per-layer ledger's recognizer
cut and the stage B input of the differential tests' Catalyst reference."""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ocr_spark.extraction.recognizer import decode_payload, recognize_batch

STAGE_B_SCHEMA = "url string, ocr_text string, ocr_conf double"


def _stage_b_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        urls = batch.column("url")
        blobs = batch.column("payload").to_pylist()
        imgs = [decode_payload(b) for b in blobs]
        results = recognize_batch(imgs)
        yield pa.RecordBatch.from_arrays(
            [
                urls,
                pa.array([t for t, _, _ in results], pa.string()),
                pa.array([c for _, c, _ in results], pa.float64()),
            ],
            names=["url", "ocr_text", "ocr_conf"],
        )


def stage_b(payloads: DataFrame) -> DataFrame:
    """payloads(url, payload) -> recognized text + confidence per url."""
    return payloads.select("url", "payload").mapInArrow(_stage_b_batches, STAGE_B_SCHEMA)
