"""End-to-end extraction pipeline: one lazily-composed DataFrame program.

    read pages ──left join on url── read payloads
        ──repartition(xxhash64(url))──►  document stage (one mapInArrow):
            DOM parse + glyph recognition + classify / dual-pass extract /
            10-component score / decision, per document  ─►  output columns

The join comes first, so every per-document step is one Python pass over
Arrow batches (``operators.document``). The hash(url) salt after the join
defuses crawl-order host skew (north rule) and fixes the Arrow stage's
parallelism whichever join Spark picks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import config as C
from ocr_spark.operators.document import document_stage


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
    estimate, and AQE can still turn a shuffled join into a broadcast at
    runtime."""
    docs = _read(spark, pages).select("url", "warc_ts", "lang", "html")
    if payloads is not None:
        docs = docs.join(_read(spark, payloads).select("url", "payload"), "url", "left")
    else:
        docs = docs.withColumn("payload", F.lit(None).cast("binary"))
    # Skew defuse: crawl files cluster by host; hash(url) spreads hot hosts
    # uniformly before the compute-heavy Arrow stage (north rule). The count
    # is EXPLICIT (cores x SALT_PARTITIONS_PER_CORE): letting AQE size this
    # shuffle by bytes coalesces a CPU-bound Arrow stage into a handful of
    # tasks (html bytes are small; per-doc parse cost is not) and destroys
    # parallelism — measured 5x slower at 24k pages.
    if salt_partitions is None:
        salt_partitions = spark.sparkContext.defaultParallelism * C.SALT_PARTITIONS_PER_CORE
    return document_stage(docs.repartition(salt_partitions, F.xxhash64("url")))
