"""WARC-style record splitting — the Common-Crawl ingestion surface: a
crawl archive arrives as concatenated WARC records in one blob per fetch
batch; this op flattens blobs into one row per record with headers parsed
and the payload isolated, entirely in codegen'd string functions.

Scale notes (100 TB): split + posexplode fan out by records-per-blob (a
WARC segment holds ~10^3 records — bounded, never corpus-sized); all
header extraction is regexp projection fused into the same stage; the
blob column is pruned before anything shuffles. No Python crossing."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def warc_split(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Split a concatenated WARC blob into records: (doc, rec, warc_type,
    url, ts, body). ``rec`` is the record's ordinal within its blob; the
    body is everything after the first blank line, kept verbatim.

    Header values run to end-of-line; absent headers come back ''. The
    leading empty fragment produced by a delimiter-initial blob is
    dropped, which is why ``rec`` is pos - 1."""
    recs = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(blob_col), r"WARC/1\.0\n"))
        .alias("pos", "rec"),
    ).filter(F.length(F.trim("rec")) > 0)
    return recs.select(
        "doc",
        (F.col("pos") - 1).cast("bigint").alias("rec"),
        F.regexp_extract("rec", r"WARC-Type: ([^\n]*)", 1).alias("warc_type"),
        F.regexp_extract("rec", r"WARC-Target-URI: ([^\n]*)", 1).alias("url"),
        F.regexp_extract("rec", r"WARC-Date: ([^\n]*)", 1).alias("ts"),
        F.regexp_extract("rec", r"(?s)\n\n(.*)$", 1).alias("body"),
    )
