"""Regression tests promoting two prose-only 100x-scale fixes into code
(round-4 verdict item 6), plus the naive-Bayes fan-out plan-shape claim.

- exact_k_sample's keep-threshold literal is 2^61 * k, which exceeds
  int64 for k >= 4; shipping it through F.lit silently worked only for
  tiny k. Fixed in 66094ee by casting the literal through a DECIMAL(38)
  string. The test pins the boundary: k=8 (threshold 2^64) must both
  construct and return exactly k per stratum.
- Share-ratio basis points (promo_revenue_share / forecast_revenue shape)
  widen sum * 10^4 to 128-bit before the integer divide; sums past
  ~2^63/10^4 (a ~60M-row month of cent-basis-point revenue) overflowed
  int64. Fixed in 48d0194 (DECIMAL(38) on the Spark side, HUGEINT in the
  DuckDB twin). The test runs both engines' expressions on counts at the
  overflow boundary and checks the exact quotient.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_exact_k_sample_k_past_int64_threshold(spark):
    from ocr_spark.functions.curation import exact_k_sample

    # (1 << 61) * 8 == 2^64 > int64 max: the pre-fix F.lit literal path
    # cannot represent this threshold.
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("stratum"),
    )
    out = exact_k_sample(df, "doc_id", "stratum", k=8).collect()
    by_stratum: dict[str, int] = {}
    for r in out:
        by_stratum[r.stratum] = by_stratum.get(r.stratum, 0) + 1
    assert by_stratum == {"0": 8, "1": 8}
    assert all(1 <= r.rk <= 8 for r in out)


def test_exact_k_sample_threshold_is_not_saturated(spark):
    # Sanity that the decimal threshold still *selects* (not keep-all):
    # with 500 rows per stratum and k=8 the 2x-oversample pre-filter must
    # admit well under the full stratum — seen through exact output size.
    from ocr_spark.functions.curation import exact_k_sample

    df = spark.range(64).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("stratum"))
    out = exact_k_sample(df, "doc_id", "stratum", k=4).collect()
    assert len(out) == 4
    assert sorted(r.rk for r in out) == [1, 2, 3, 4]


def test_share_ratio_bp_exact_at_int64_overflow_boundary(spark):
    # promo = 3 * 2^60 cent-bp, total = 2^62: promo * 10^4 ~ 2^73.5 —
    # far past int64; the widened expression must return the exact
    # truncated quotient both engines agree on.
    promo = 3 * (1 << 60)
    total = 1 << 62
    expected = promo * 10000 // total  # == 7500

    df = spark.createDataFrame(
        [(promo, total)], "promo_centbp: long, total_centbp: long")
    got = df.select(
        F.expr("CAST(promo_centbp AS DECIMAL(38,0)) * 10000"
               " div total_centbp").cast("bigint").alias("bp")
    ).collect()[0].bp
    assert got == expected == 7500

    o = duckdb.sql(
        f"SELECT CAST(CAST({promo} AS HUGEINT) * 10000 // {total}"
        " AS BIGINT) AS bp").fetchone()[0]
    assert o == expected


def test_naive_bayes_fanout_is_broadcast_bounded(spark):
    # The docstring claim: every crossJoin in naive_bayes_lang fans rows
    # across a BROADCAST side bounded by n_langs / 1-row scalars, so the
    # executed plan must contain zero CartesianProduct (every nested-loop
    # is the broadcast variant). The one sanctioned shuffled join is the
    # doc-keyed label join (both sides document-sized) — anything more
    # means a params frame fell out of broadcast.
    from ocr_spark.queries import QUERIES

    df = QUERIES["naive_bayes_lang"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "BroadcastNestedLoopJoin" in plan


def test_peer_percentile_rank_widened_past_int32(spark):
    # 32-bit row_number * 10^4 overflows past 214,748 rows per group —
    # the sf1-equivalent sweep caught the ANSI ARITHMETIC_OVERFLOW; the
    # expression now widens rank to BIGINT first. 250k rows in ONE group
    # sits just past the boundary.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = 250_000
    df = spark.range(n).select(
        F.col("id"), F.lit("P").alias("g"), (F.col("id") % 97).alias("v"))
    w = Window.partitionBy("g")
    r = df.select(
        "id", "g", "v",
        F.row_number().over(w.orderBy("v", "id")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n"))
    out = r.select(
        F.expr("CAST(rk - 1 AS BIGINT) * 10000 div GREATEST(n - 1, 1)")
        .cast("bigint").alias("pct_bp"))
    mx = out.agg(F.max("pct_bp"), F.min("pct_bp")).collect()[0]
    assert (mx[0], mx[1]) == (10000, 0)


def test_jl_distortion_identical_vectors_yield_null(spark):
    # A probe pair of identical vectors has d2_orig == 0: distortion is
    # undefined and must be NULL, not an ANSI divide-by-zero (scaled
    # corpora place verbatim copies at consecutive ids).
    from pyspark.sql import functions as F

    from ocr_spark.functions.similarity import jl_distortion

    vec = [float(x % 7) for x in range(64)]
    df = spark.createDataFrame(
        [(i, vec) for i in range(4)], "vec_id: long, embedding: array<double>")
    rows = jl_distortion(df, "vec_id", "embedding", out_dim=16,
                         n_pairs=3).collect()
    assert len(rows) == 3
    assert all(r.ratio_bp is None for r in rows)


def test_box_page_density_is_bounded(spark):
    # The page block key must be key div <density>, not key % <n_pages>:
    # with a modulo key the boxes-per-page count grows linearly with the
    # table and the page-blocked IoU self-join goes quadratic (sweep
    # finding at 10x). Density must hold at every sf.
    from pyspark.sql import functions as F

    from ocr_spark.queries.extraction import _boxes

    per_page = (_boxes(spark, "/root/testdata/sf0.01")
                .groupBy("page").count().agg(F.max("count")).collect()[0][0])
    assert per_page <= 500
