"""The query registry: ``QUERIES`` (name -> Spark implementation),
``ORACLE`` (name -> DuckDB twin), the ``@query`` decorator that fills both,
and the scan and fixture helpers every family module shares.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.casespec import Spec, case_col, case_sql


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cpu(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan feeding a CPU-dense projection (regex scoring, shingle/minhash
    explode, embedding math). Small-bytes single-row-group files scan as ONE
    split and serialize the whole stage onto one core; repartition with an
    explicit count (AQE respects it, unlike byte-coalesced column-only
    repartition) when the scan is under-parallel. A no-op at production
    scale, where the scan already has >= cores splits."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par * 2)
    return df


# casespec parts naming a column of ``documents``
_DOC_ID = ("col", "doc_id")
_TEXT = ("col", "text")


def _docs_sql(spec: Spec, name: str) -> str:
    """A doc_id-residue fixture over ``documents``: columns (doc, name)."""
    return (f"SELECT doc_id AS doc, {case_sql('doc_id', spec)} AS {name} "
            "FROM documents")


def _docs(spark: SparkSession, sf_dir: str, spec: Spec,
          name: str) -> DataFrame:
    """Spark twin of ``_docs_sql``, over the ``_cpu`` scan."""
    return _cpu(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        case_col(F.col("doc_id"), spec).alias(name))


def query(name: str, sql: str | None = None):
    def deco(fn):
        # A silent overwrite shadowed a whole implementation in round 4
        # (two @query("dehyphenate") registrations; the first was dead
        # code and the registry held 396 of 397 registrations) — make a
        # duplicate name a hard import-time error.
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _cents(col) -> Column:
    """Exact integer cents for a ≤2-decimal double — cross-engine-stable."""
    return F.round(F.col(col) * 100).cast("bigint")
