"""Driver-contract query library: every SURVEY.md §2 operator family gets a
``QUERIES[name]`` Spark implementation over the driver's testdata tables and
(where ANSI-SQL-expressible) an ``ORACLE[name]`` DuckDB twin that must match
row-for-row, value-for-value.

Cross-engine determinism rules used throughout (so the driver's value-hash
compare holds):
- aggregates over floating columns are carried as exact integers (cents /
  basis points) and cast to BIGINT in both engines;
- per-row double arithmetic is written with the identical operation order in
  both dialects (IEEE 754 makes the results bit-equal);
- regexes stay in the common Java-regex/RE2 dialect (no lookbehind, no
  backrefs, explicit ``[0-9०-९]`` digit classes — see functions/extractors.py);
- timestamps are projected as formatted strings;
- booleans are projected as ints.

One spelling per input, two per operator: a synthetic input keyed on
``doc_id % n`` (the ``_RECIPE_TEXT``-style fixtures) is written once, as an
``ocr_spark.casespec`` spec, and rendered for both engines (``_docs_sql`` /
``_docs``, or ``case_sql`` / ``case_col``). The operator logic under test
keeps two independent spellings, Spark and DuckDB, because the DuckDB twin
is the reference the Spark side is checked against.
"""

from __future__ import annotations

import os
import string as _string
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark import config as C
from ocr_spark.casespec import Spec, case_col, case_sql
from ocr_spark.functions import similarity
from ocr_spark.functions.classify import classify
from ocr_spark.functions.dedup import (
    DEFAULT_MAX_BUCKET,
    exact_dedup,
    lsh_candidate_pairs,
    lsh_jaccard_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from ocr_spark.functions.extractors import FIELD_BUILDERS
from ocr_spark.functions.normalize import normalize_date
from ocr_spark.functions.quality import quality_columns
from ocr_spark.functions.scoring import (
    anchor_score,
    char_class_counts,
    decision_columns,
    distribution_score,
    distribution_score_from_counts,
    final_confidence,
    non_alnum_ratio,
    non_alnum_ratio_from_counts,
    schema_score,
)
from ocr_spark.functions.wordstats import split_words
from ocr_spark.oracle_sql import dbl

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
# Queries that do (some of) their work during plan CONSTRUCTION — driver-side
# convergence loops with checkpoint-per-round, eager localCheckpoints, or
# streaming awaitTermination. bench.py must put the CONSTRUCTION call inside
# the timed window for these, or the recorded time is only the read-back of a
# cached result (round-4 verdict item 1: boruvka_msf benched 0.097 s vs its
# real ~19 s). tests/test_bench_contract.py asserts this set lockstep against
# an at-construction Spark job count, so a new eager query cannot silently
# fall out of the timed window.
EAGER: set[str] = set()


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


def query(name: str, sql: str | None = None, *, eager: bool = False):
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
        if eager:
            EAGER.add(name)
        return fn

    return deco


def _cents(col) -> Column:
    """Exact integer cents for a ≤2-decimal double — cross-engine-stable."""
    return F.round(F.col(col) * 100).cast("bigint")


# ===========================================================================
# Relational engine ops (SURVEY.md §2.3, §2.4, §2.5, §2.6): joins, hash
# aggregation with map-side partials, window top-k, anti-join resume.
# ===========================================================================

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_bp
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-analog weighted rollup: partial+final hash agg, integer-exact."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(F.round(F.col("l_discount") * 10000).cast("bigint")).alias("sum_disc_bp"),
        )
    )


@query(
    "topk_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3
    """,
)
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 — per-group top-k via row_number window."""
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_orderpriority", "o_orderkey",
            _cents("o_totalprice").alias("total_cents"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@query(
    "region_revenue",
    """
    SELECT r.r_name AS region_name,
           CAST(COUNT(*) AS BIGINT) AS order_count,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: broadcast the dim chain, one shuffle for the final agg."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("c_custkey", "r_name")
    return (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(_cents("o_totalprice")).alias("revenue_cents"),
        )
    )


@query(
    "customers_without_orders",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the idempotent-resume primitive (SURVEY.md §2.3)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return customer.join(orders, "c_custkey", "left_anti").select("c_custkey")


@query(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (batch form of the streaming windowed agg)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("value_cents"),
        )
    )


@query(
    "event_sessions",
    """
    SELECT user_id,
           CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    GROUP BY user_id
    """,
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag window + conditional count per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events").withColumn(
        "new_session",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    return ev.groupBy("user_id").agg(
        (F.sum("new_session") + 1).cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "cohort_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    coh AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id),
    joined AS (
      SELECT c.cohort_week,
             CAST((a.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
             a.user_id
      FROM act a JOIN coh c USING (user_id)),
    size_ AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM coh
              GROUP BY cohort_week),
    ret AS (SELECT cohort_week, week_offset,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM joined GROUP BY cohort_week, week_offset)
    SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
           r.week_offset, r.n_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(CAST(r.n_users AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM ret r JOIN size_ s USING (cohort_week)
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: each user joins the cohort of their
    first active week; the cell (cohort_week, k) counts distinct cohort
    members active k weeks later, with the retention fraction against the
    cohort size. Two user-keyed aggs + one small broadcast-able
    cohort-size join — the classic growth-analytics rollup."""
    ev = _t(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = act.join(coh, "user_id").select(
        "cohort_week",
        F.floor(F.datediff("week", "cohort_week") / 7).cast("bigint").alias(
            "week_offset"),
        "user_id",
    )
    size = coh.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    ret = joined.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users"))
    return ret.join(F.broadcast(size), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.round(F.col("n_users") / F.col("cohort_size"), 6).alias("retention"),
    )


@query(
    "scd2_user_state",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type IS DISTINCT FROM
                  LAG(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events),
    seg AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM o),
    g AS (
      SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id,
             ANY_VALUE(event_type) AS state,
             MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM seg GROUP BY user_id, seg_id)
    SELECT user_id, seg_id, state,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(LEAD(valid_from) OVER
                      (PARTITION BY user_id ORDER BY seg_id),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id)
              IS NULL) AS is_current,
           n_events
    FROM g
    """,
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event log: collapse
    each user's consecutive same-type events into state segments and emit
    validity intervals [valid_from, valid_to) with the open current row —
    change-detection lag, running segment ids, and interval stitching in
    three windows over ONE user-keyed partitioning (a single shuffle;
    every window and the agg reuse the user_id exchange)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
    ).otherwise(0)
    seg = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "chg", chg
    ).withColumn(
        "seg_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = seg.groupBy("user_id", F.col("seg_id").cast("bigint").alias("seg_id")).agg(
        F.first("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    ws = Window.partitionBy("user_id").orderBy("seg_id")
    valid_to = F.lead("valid_from").over(ws)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return g.select(
        "user_id", "seg_id", "state",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format(valid_to, fmt).alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


@query(
    "topk_users_by_events",
    """
    SELECT user_id, n_events, CAST(rk AS BIGINT) AS rk FROM (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
      FROM events GROUP BY user_id)
    WHERE rk <= 10
    """,
)
def topk_users_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k after agg (single-partition window on tiny agg output)."""
    agg = _t(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return agg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10).select(
        "user_id", "n_events", F.col("rk").cast("bigint").alias("rk")
    )


# ===========================================================================
# Deduplication suite over `documents` (exact, MinHash+LSH, SimHash,
# n-gram Jaccard) — training-data-pipeline operators.
# ===========================================================================

def _shingle_sql(src: str = "documents") -> str:
    return f"""
    SELECT doc_id AS doc,
           CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3 THEN
             list_distinct(list_transform(
               generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
               i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                    string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                    string_split_regex(trim(text), '\\s+')[i+2]))
           ELSE CAST([] AS VARCHAR[]) END AS shingles
    FROM {src}
"""


_SHINGLE_SQL = _shingle_sql()


@query(
    "exact_dedup",
    """
    SELECT sha256(text) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS dup_count,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY sha256(text)
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on the content hash, never on the text."""
    return exact_dedup(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "minhash_band_signatures",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    b AS (SELECT doc, shingles, unnest(range(0, 4)) AS band FROM sh)
    SELECT doc, CAST(band AS BIGINT) AS band,
           list_aggregate(list_transform(shingles, s -> md5(band || '|' || s)), 'min') AS signature
    FROM b WHERE len(shingles) > 0
    """,
)
def q_minhash_band_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash per (doc, band): md5-based, portable bit-for-bit."""
    sig = minhash_signatures(_cpu(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4)
    return sig.select("doc", F.col("band").cast("bigint").alias("band"), "signature")


def _lsh_pairs_sql(src: str = "documents") -> str:
    return f"""
    WITH sh AS ({_shingle_sql(src)}),
    b AS (SELECT doc, shingles, unnest(range(0, 4)) AS band FROM sh),
    sigs AS (
      SELECT doc, band,
             list_aggregate(list_transform(shingles, s -> md5(band || '|' || s)), 'min') AS signature
      FROM b WHERE len(shingles) > 0),
    bs AS (SELECT band, signature FROM sigs GROUP BY band, signature
           HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
    capped AS (SELECT s.* FROM sigs s JOIN bs USING (band, signature))
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.signature = b.signature AND a.doc < b.doc
"""


_LSH_PAIRS_SQL = _lsh_pairs_sql()


def _lsh_jaccard_sql(src: str = "documents", threshold: float | None = None) -> str:
    thr = "" if threshold is None else (
        f"\n    WHERE jaccard >= CAST({threshold!r} AS DOUBLE)")
    return f"""
    SELECT * FROM (
    WITH pairs AS ({_lsh_pairs_sql(src)}),
    hs AS (
      SELECT s.doc, list_transform(s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS sh
      FROM ({_shingle_sql(src)}) s)
    SELECT p.doc_a, p.doc_b,
           ROUND(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                 THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(a.sh || b.sh))
                 ELSE 0.0 END, 9) AS jaccard
    FROM pairs p JOIN hs a ON a.doc = p.doc_a JOIN hs b ON b.doc = p.doc_b
    ){thr}
"""


@query("lsh_candidate_pairs", _LSH_PAIRS_SQL)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: near-dup candidates shuffle only on (band, signature);
    boilerplate-degenerate buckets above the cap are dropped (exact_dedup's
    job) in BOTH engines."""
    return lsh_candidate_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4)


@query("lsh_jaccard_pairs", _lsh_jaccard_sql())
def q_lsh_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ONLY on LSH candidates — the composed corpus-scale
    near-dup plan (banding prunes; the quadratic comparison never runs
    within a low-cardinality block)."""
    return lsh_jaccard_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4)


_DEDUP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id,
           text || ' near duplicate trailing banner words' AS text
    FROM documents WHERE doc_id % 11 = 0
"""


@query(
    "dedup_decide",
    f"""
    WITH corpus AS ({_DEDUP_CORPUS_SQL}),
    ex AS (
      SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id
      FROM corpus GROUP BY sha256(text)),
    docs AS (
      SELECT c.doc_id, c.text, e.keep_id
      FROM corpus c JOIN ex e ON sha256(c.text) = e.content_hash),
    reps AS (SELECT doc_id, text FROM docs WHERE doc_id = keep_id),
    near AS (
      SELECT DISTINCT doc_b AS near_id
      FROM ({_lsh_jaccard_sql("reps", threshold=0.6)}))
    SELECT d.doc_id,
           CASE WHEN d.doc_id != d.keep_id OR n.near_id IS NOT NULL
                THEN 'drop' ELSE 'keep' END AS decision,
           CASE WHEN d.doc_id != d.keep_id THEN 'exact_dup'
                WHEN n.near_id IS NOT NULL THEN 'near_dup'
                ELSE 'none' END AS reason
    FROM docs d LEFT JOIN near n ON d.doc_id = n.near_id
    """,
)
def q_dedup_decide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retention pass (exact dedup -> LSH near-dup on
    representatives -> keep/drop per doc) over a corpus augmented with
    deterministic exact copies (doc_id+100000) and near-copies with a
    trailing banner (doc_id+200000) — the full composition a curation job
    runs, value-oracled across both engines."""
    from ocr_spark.functions.dedup import dedup_decide

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    copies = docs.filter(k % 7 == 0).select((k + 100000).alias("doc_id"), "text")
    nears = docs.filter(k % 11 == 0).select(
        (k + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate trailing banner words")).alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(nears)
    return dedup_decide(corpus, "doc_id", "text", threshold=0.6)


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE corpus AS ({_DEDUP_CORPUS_SQL}),
    jac AS (SELECT doc_a, doc_b
            FROM ({{jaccard}})),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
    SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
    """.replace("{jaccard}", _lsh_jaccard_sql("corpus", threshold=0.6)),
    eager=True,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: LSH+Jaccard edges (threshold 0.6)
    over the augmented dedup corpus, then min-label connected components —
    (a~b, b~c) collapses to one retention cluster {a,b,c} labelled by its
    smallest doc_id. The DuckDB twin computes the same fixpoint through a
    recursive reachability CTE, independently cross-checking the
    propagation loop, so the oracle covers the iteration logic itself."""
    from ocr_spark.functions.dedup import connected_components, lsh_jaccard_pairs

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    copies = docs.filter(k % 7 == 0).select((k + 100000).alias("doc_id"), "text")
    nears = docs.filter(k % 11 == 0).select(
        (k + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate trailing banner words")).alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(nears)
    edges = lsh_jaccard_pairs(corpus, "doc_id", "text", n_bands=4, threshold=0.6)
    comp = connected_components(
        corpus.select(F.col("doc_id").alias("node")), edges
    )
    return comp.select(F.col("node").alias("doc_id"), "component")


@query(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE corpus AS ({{corpus}}),
    jac AS (SELECT doc_a, doc_b
            FROM ({{jaccard}})),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    q AS (
      SELECT doc_id AS node,
             CAST(round(CAST(1000000 * len(list_distinct(w)) AS DOUBLE)
                        / len(w)) AS BIGINT) AS quality_micro
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM corpus WHERE length(trim(text)) > 0)),
    j AS (SELECT c.node, c.component, COALESCE(q.quality_micro, 0) AS quality_micro
          FROM comp c LEFT JOIN q USING (node))
    SELECT node, component, quality_micro,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY component ORDER BY quality_micro DESC, node) AS rn
          FROM j)
    """.replace("{corpus}", _DEDUP_CORPUS_SQL)
       .replace("{jaccard}", _lsh_jaccard_sql("corpus", threshold=0.6)),
    eager=True,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best retention over near-dup clusters: the dedup_components
    clustering joined with a distinct-word-ratio quality score; each
    cluster keeps its highest-quality member (ties to the smallest id).
    The argmax is a struct-MAX aggregation with map-side partials, never a
    per-component window sort."""
    from ocr_spark.functions.dedup import (
        connected_components, keep_best_representative, lsh_jaccard_pairs)

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    copies = docs.filter(k % 7 == 0).select((k + 100000).alias("doc_id"), "text")
    nears = docs.filter(k % 11 == 0).select(
        (k + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate trailing banner words")).alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(nears)
    edges = lsh_jaccard_pairs(corpus, "doc_id", "text", n_bands=4, threshold=0.6)
    comp = connected_components(
        corpus.select(F.col("doc_id").alias("node")), edges)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    quality = corpus.filter(F.length(F.trim("text")) > 0).select(
        F.col("doc_id").alias("node"),
        F.round(
            (F.lit(1000000) * F.size(F.array_distinct(words))).cast("double")
            / F.size(words)
        ).cast("bigint").alias("quality_micro"),
    )
    all_q = comp.select("node").join(quality, "node", "left").select(
        "node", F.coalesce("quality_micro", F.lit(0)).cast("bigint").alias("quality_micro"))
    return keep_best_representative(comp, all_q)


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS (
      SELECT d.doc_id AS doc, d.lang, d.source,
             list_transform(s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS shingles
      FROM documents d JOIN ({_SHINGLE_SQL}) s ON d.doc_id = s.doc)
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           ROUND(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
                 THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(a.shingles || b.shingles))
                 ELSE 0.0 END, 9) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc < b.doc
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard within (lang, source) blocks — bounded quadratic."""
    return ngram_jaccard_pairs(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", ["lang", "source"]
    )


def _simhash_oracle_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hashes, h -> (h & {1 << b}) != 0)) >= n AND n > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(60)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id AS doc,
             CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 2 THEN
               list_distinct(list_transform(
                 generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                 i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+1]))
             ELSE CAST([] AS VARCHAR[]) END AS shingles
      FROM documents),
    h AS (SELECT doc,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hashes,
                 len(shingles) AS n
          FROM sh)
    SELECT doc, CAST({bits} AS BIGINT) AS simhash FROM h
    """


@query("simhash", _simhash_oracle_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash: majority vote per bit over shingle md5 hashes."""
    out = simhash64(_cpu(spark, sf_dir, "documents"), "doc_id", "text", shingle_n=2)
    return out.select("doc", F.col("simhash").cast("bigint").alias("simhash"))


@query(
    "simhash_pairs",
    f"""
    WITH sig AS (SELECT * FROM ({_simhash_oracle_sql()})),
    bands AS (
      SELECT doc, simhash, b, (simhash >> (b * 15)) & 32767 AS sigb
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
    ok AS (SELECT b, sigb FROM bands GROUP BY b, sigb
           HAVING COUNT(*) BETWEEN 2 AND {DEFAULT_MAX_BUCKET}),
    capped AS (SELECT bands.* FROM bands JOIN ok USING (b, sigb)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, a.simhash AS sig_a,
                      c.doc AS doc_b, c.simhash AS sig_b
      FROM capped a JOIN capped c
        ON a.b = c.b AND a.sigb = c.sigb AND a.doc < c.doc)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs: 60-bit signatures split into 4
    15-bit bands (pigeonhole-exact for Hamming radius 3), band-bucket
    candidates under the degenerate-bucket cap, xor/popcount verify."""
    from ocr_spark.functions.dedup import simhash_pairs

    return simhash_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "winnow_pairs",
    """
    WITH nx AS (
      SELECT doc_id AS doc,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents),
    h AS (
      SELECT doc,
             CASE WHEN length(norm) - 19 >= 1 THEN
               list_transform(generate_series(1, length(norm) - 19),
                 i -> ('0x' || substr(md5(substr(norm, i, 20)), 1, 8))::BIGINT)
             ELSE CAST([] AS BIGINT[]) END AS h
      FROM nx),
    fps AS (
      SELECT doc, unnest(
        CASE WHEN len(h) >= 4 THEN
               list_distinct(list_transform(generate_series(1, len(h) - 3),
                 j -> list_min(h[j : j + 3])))
             WHEN len(h) >= 1 THEN [list_min(h)]
             ELSE CAST([] AS BIGINT[]) END) AS fp
      FROM h),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 10),
    f AS (SELECT doc, fp FROM fps JOIN rare USING (fp))
    SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    HAVING COUNT(*) >= 2
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing: char-20-gram hashes, window-4 minima as
    fingerprints, pairs sharing >= 2 fingerprints rarer than df=10 — the
    substring-overlap detector next to the word-shingle dedup family."""
    from ocr_spark.functions.dedup import winnow_pairs

    return winnow_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text",
                        k=20, w=4, max_df=10, min_shared=2)


def _pagerank_oracle(n_iters: int = 3) -> str:
    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    r{i} AS (
      SELECT nd.node,
             CAST((15000000000 // (100 * t.n)) + COALESCE(c.c, 0) AS BIGINT) AS rank
      FROM nodes nd CROSS JOIN tot t
      LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM((p.rank * 85) // (100 * od.od)) AS BIGINT) AS c
        FROM r{i - 1} p JOIN e ON e.src = p.node JOIN od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nd.node)"""
    return f"""
    WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
    raw AS (SELECT node, unnest(generate_series(1, 1 + node % 3)) AS j
            FROM nodes),
    e AS (SELECT DISTINCT node AS src, (node * 13 + j * 29) % 100 AS dst
          FROM raw WHERE (node * 13 + j * 29) % 100 != node),
    tot AS (SELECT COUNT(*) AS n FROM nodes),
    od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000000 // t.n AS BIGINT) AS rank
           FROM nodes CROSS JOIN tot t){iters}
    SELECT node, rank FROM r{n_iters}
    """


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 100-host link graph with varying out-degrees (the
    shared fixture of the graph-analytics queries)."""
    nodes = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 100).alias("node")).distinct()
    raw = nodes.select(
        "node",
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + (F.col("node") % 3).cast("int"))
        ).alias("j"),
    )
    return (
        raw.select(
            F.col("node").alias("src"),
            ((F.col("node") * 13 + F.col("j") * 29) % 100).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
        .distinct()
    )


# The shared edge-builder CTE of the graph oracles (mirrors _host_edges).
_HOST_EDGES_SQL = """
    nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
    raw AS (SELECT node, unnest(generate_series(1, 1 + node % 3)) AS j
            FROM nodes),
    e AS (SELECT DISTINCT node AS src, (node * 13 + j * 29) % 100 AS dst
          FROM raw WHERE (node * 13 + j * 29) % 100 != node)
"""


@query("host_pagerank", _pagerank_oracle())
def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point PageRank (3 iterations, damping 0.85)
    over a synthesized 100-host link graph with varying out-degrees —
    the iterative graph algorithm next to connected_components, with the
    DuckDB twin unrolling the same integer iterations."""
    from ocr_spark.functions.graph import pagerank

    return pagerank(_host_edges(spark, sf_dir), n_iters=3)


@query(
    "triangle_count",
    f"""
    WITH {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    mem AS (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri),
    cnt AS (SELECT node, COUNT(*) AS c FROM mem GROUP BY node)
    SELECT n.node, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_triangles
    FROM nodes n LEFT JOIN cnt USING (node)
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the host link graph via the oriented
    compact-forward edge join — the local clustering signal (link-farm /
    community detector) beside PageRank and connected components."""
    from ocr_spark.functions.graph import triangle_count

    return triangle_count(_host_edges(spark, sf_dir))


@query(
    "docs_rollup",
    """
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
)
def q_docs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup report (lang x source -> lang -> grand total) —
    the GROUPING SETS family in one operator: Spark's rollup() compiles to
    a single Expand + hash agg (one pass, map-side partials), and
    grouping_id disambiguates rollup NULLs from data NULLs."""
    return (
        _t(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "sum_chars")
    )


_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


@query(
    "user_event_pivot",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix. The explicit pivot value
    list keeps it a single-pass hash agg (no value-discovery job); absent
    cells coalesce to 0."""
    out = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
          for t in _EVENT_TYPES],
    )


@query(
    "revenue_window_ranks",
    """
    WITH rev AS (
      SELECT c.c_custkey AS custkey, n.n_regionkey AS region,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY c.c_custkey, n.n_regionkey)
    SELECT custkey, region, rev_cents,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM rev
    WINDOW w AS (PARTITION BY region ORDER BY rev_cents DESC, custkey)
    """,
)
def q_revenue_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window family beyond row_number: percent_rank, cume_dist,
    and ntile quartiles of per-customer revenue within a region, over
    integer-exact cents with a fully deterministic order."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            c["c_custkey"].alias("custkey"),
            n["n_regionkey"].alias("region"),
        )
        .agg(F.sum(_cents("o_totalprice")).alias("rev_cents"))
    )
    w = Window.partitionBy("region").orderBy(
        F.desc("rev_cents"), F.asc("custkey"))
    return rev.select(
        "custkey", "region", "rev_cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@query(
    "priority_segment_setops",
    """
    WITH urgent AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
    low AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '5-LOW')
    SELECT o_custkey AS custkey, 'both' AS segment
    FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM low)
    UNION ALL
    SELECT o_custkey, 'urgent_only'
    FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM low)
    """,
)
def q_priority_segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation family: INTERSECT and EXCEPT over customer segments
    (urgent-order vs low-priority-order customers), both compiling to
    semi/anti hash joins on the distinct key — never a sort."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_custkey").distinct()
    low = o.filter(F.col("o_orderpriority") == "5-LOW") \
        .select("o_custkey").distinct()
    both = urgent.intersect(low).select(
        F.col("o_custkey").alias("custkey"), F.lit("both").alias("segment"))
    only = urgent.subtract(low).select(
        F.col("o_custkey").alias("custkey"),
        F.lit("urgent_only").alias("segment"))
    return both.unionByName(only)


# ===========================================================================
# Similarity search over `embeddings` (brute-force cosine top-k + sign-LSH
# bucketing as the 100 TB path).
# ===========================================================================

_COSINE_TOPK_SQL = """
    SELECT * FROM (
    WITH base AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings),
    q AS (SELECT nid AS qid, nvec AS qvec FROM base WHERE nid < 10),
    scored AS (
      SELECT q.qid, b.nid,
             ROUND(
               list_aggregate(list_transform(list_zip(q.qvec, b.nvec), p -> p[1] * p[2]), 'sum')
               / (sqrt(list_aggregate(list_transform(q.qvec, x -> x * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(b.nvec, x -> x * x), 'sum'))), 6) AS cos
      FROM base b CROSS JOIN q WHERE b.nid != q.qid)
    SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      FROM scored)
    WHERE rk <= 5
    )
"""


@query("cosine_topk", _COSINE_TOPK_SQL)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: brute-force cosine top-5 for the first 10 vectors."""
    out = similarity.brute_force_topk(_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select("qid", "nid", "cos", F.col("rank").cast("bigint").alias("rank"))


def _lsh_bucket_oracle_sql(n_planes: int = 8) -> str:
    terms = []
    for b in range(n_planes):
        comp = (
            f"(('0x' || substr(md5({b} || ':' || i), 1, 4))::INTEGER / 32767.5 - 1.0)"
        )
        proj = (
            f"list_aggregate(list_transform(generate_series(0, dim - 1), "
            f"i -> vec[i + 1] * {comp}), 'sum')"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << b} ELSE 0 END")
    total = " + ".join(terms)
    return f"""
    WITH base AS (
      SELECT vec_id AS doc,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
             len(embedding) AS dim
      FROM embeddings)
    SELECT doc, CAST({total} AS BIGINT) AS bucket FROM base
    """


@query("lsh_buckets", _lsh_bucket_oracle_sql())
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket ids — the bucketed ANN join key at scale."""
    out = similarity.hyperplane_lsh_buckets(_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select("doc", F.col("bucket").cast("bigint").alias("bucket"))


_HAMMING_TOPK_SQL = f"""
    SELECT * FROM (
    WITH codes AS (SELECT * FROM ({_lsh_bucket_oracle_sql(60)})),
    q AS (SELECT doc AS qid, bucket AS qc FROM codes WHERE doc < 10),
    h AS (
      SELECT q.qid, c.doc AS nid,
             CAST(bit_count(xor(q.qc, c.bucket)) AS BIGINT) AS hamming
      FROM codes c CROSS JOIN q WHERE c.doc != q.qid),
    short AS (
      SELECT qid, nid, hamming FROM (
        SELECT qid, nid, hamming,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, nid) AS sr
        FROM h) WHERE sr <= 50),
    vecs AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    rer AS (
      SELECT s.qid, s.nid, s.hamming,
             ROUND(
               list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
               / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum'))), 6) AS cos
      FROM short s JOIN vecs a ON a.vid = s.qid JOIN vecs b ON b.vid = s.nid)
    SELECT qid, nid, hamming, cos, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, hamming, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      FROM rer)
    WHERE rk <= 5
    )
"""


@query("hamming_topk", _HAMMING_TOPK_SQL)
def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: 60-bit sign-LSH Hamming codes shortlist 50
    neighbours per query by xor/popcount, exact cosine reranks to top-5
    (recall@5 = 0.6 vs brute force on the 500-vector fixture, pinned in
    tests) — the compress-then-refine search beside brute-force and IVF."""
    return similarity.hamming_rerank_topk(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")


@query(
    "ann_eval",
    f"""
    WITH ex AS (SELECT qid, nid FROM ({_COSINE_TOPK_SQL})),
    hm AS (SELECT qid, nid FROM ({_HAMMING_TOPK_SQL})),
    hits AS (
      SELECT ex.qid, COUNT(hm.nid) AS n_hits
      FROM ex LEFT JOIN hm ON ex.qid = hm.qid AND ex.nid = hm.nid
      GROUP BY ex.qid)
    SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / 5, 6) AS recall
    FROM hits
    """,
)
def q_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a query: per-query recall@5 of the
    Hamming-code two-stage search against the brute-force cosine ground
    truth — the evaluation harness composed from the same operators it
    measures, so index-quality regressions surface in the correctness
    gate, not in a side script."""
    emb = _cpu(spark, sf_dir, "embeddings")
    ex = similarity.brute_force_topk(emb, "vec_id", "embedding").select(
        "qid", "nid")
    hm = similarity.hamming_rerank_topk(emb, "vec_id", "embedding").select(
        F.col("qid").alias("hqid"), F.col("nid").alias("hnid"))
    hits = (
        ex.join(hm, (ex["qid"] == hm["hqid"]) & (ex["nid"] == hm["hnid"]),
                "left")
        .groupBy("qid")
        .agg(F.count("hnid").alias("n_hits"))
    )
    return hits.select(
        "qid", F.col("n_hits").cast("bigint").alias("n_hits"),
        F.round(F.col("n_hits").cast("double") / 5, 6).alias("recall"),
    )


# ===========================================================================
# Reference-semantics suite over the synthetic ID-document corpus
# (ocr_spark.synth builds byte-identical texts in both engines from orders).
# ===========================================================================

from ocr_spark.synth import SYNTH_CORPUS_SQL, synth_corpus  # noqa: E402


@query("synth_corpus", SYNTH_CORPUS_SQL)
def q_synth_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base check: both engines must build the exact same document texts."""
    return synth_corpus(spark, sf_dir)


from ocr_spark import oracle_sql as OSQL  # noqa: E402


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


# ===========================================================================
# Scoring + decision pipeline (A8/A10 + decision CASE chain) over the synth
# corpus, with the reference's component aliases and exact FP operation order.
# ===========================================================================

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


# ===========================================================================
# Text-analysis suite over `documents` (A1/A2 word stats, language ID,
# quality scoring, fingerprinting) — training-data curation operators.
# ===========================================================================

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


_LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "et", "une", "dans"],
}
_LANG_PRIORITY = ["en", "es", "de", "fr"]


def _lang_id_oracle() -> str:
    score_sqls = {
        lang: (
            f"len(list_filter(words, w -> lower(w) IN "
            f"({', '.join(chr(39) + m + chr(39) for m in markers)})))"
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    mx = "greatest(" + ", ".join(score_sqls[lang] for lang in _LANG_PRIORITY) + ")"
    chain = "CASE WHEN " + mx + " = 0 THEN 'unknown'"
    for lang in _LANG_PRIORITY[:-1]:
        chain += f" WHEN {score_sqls[lang]} = {mx} THEN '{lang}'"
    chain += f" ELSE '{_LANG_PRIORITY[-1]}' END"
    scores = ", ".join(
        f"CAST({score_sqls[lang]} AS BIGINT) AS score_{lang}" for lang in _LANG_PRIORITY
    )
    return f"""
    WITH w AS (
      SELECT doc_id, lang AS labeled_lang,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS words
      FROM documents)
    SELECT doc_id, labeled_lang, {chain} AS predicted_lang, {scores} FROM w
    """


@query("lang_id", _lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family) with argmax."""
    words = split_words(F.col("text"))

    def _marker_filter(markers: list[str]):
        # closure factory, not default-arg lambda (HOF introspection pitfall)
        return lambda w: F.lower(w).isin(markers)

    scores = {
        lang: F.size(F.filter(words, _marker_filter(markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    mx = F.greatest(*[scores[lang] for lang in _LANG_PRIORITY])
    pred = F.when(mx == 0, F.lit("unknown"))
    for lang in _LANG_PRIORITY[:-1]:
        pred = pred.when(scores[lang] == mx, F.lit(lang))
    pred = pred.otherwise(F.lit(_LANG_PRIORITY[-1]))
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        *[scores[lang].cast("bigint").alias(f"score_{lang}") for lang in _LANG_PRIORITY],
    )


def _doc_quality_oracle() -> str:
    n_tok = "len(string_split_regex(trim(text), '\\s+'))"
    stop_ratio = (
        f"(len(list_filter(string_split_regex(trim(text), '\\s+'), "
        f"w -> lower(w) IN ({_STOP_SQL}))) / {n_tok})"
    )
    punct_ratio = "(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) / length(text))"
    len_score = f"least({dbl(1.0)}, length(text) / {dbl(500.0)})"
    composite = (
        f"({dbl(0.4)} * {len_score} + {dbl(0.3)} * ({dbl(1.0)} - {punct_ratio}) "
        f"+ {dbl(0.3)} * least({dbl(1.0)}, {stop_ratio} * {dbl(10.0)}))"
    )
    return f"""
    SELECT doc_id,
           {composite} AS quality_score,
           CASE WHEN {composite} >= {dbl(0.8)} THEN 'high'
                WHEN {composite} >= {dbl(0.5)} THEN 'medium' ELSE 'low' END AS quality_band
    FROM documents WHERE length(trim(text)) > 0
    """


@query("doc_quality", _doc_quality_oracle())
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality score: length / punctuation / stopword-ratio composite.

    Both engines filter on length(trim(text)) > 0: on whitespace-only text
    Spark's split_words yields [] (NULL composite) while DuckDB's
    string_split_regex yields [''] — excluding those rows identically keeps
    the value hash stable for any corpus (ADVICE r1)."""
    text = F.col("text")
    words = split_words(text)
    n_tok = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda w: F.lower(w).isin(C.STOPWORDS))) / n_tok
    punct_ratio = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", "")) / F.length(text)
    len_score = F.least(F.lit(1.0), F.length(text) / F.lit(500.0))
    composite = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), stop_ratio * F.lit(10.0))
    )
    return (
        _cpu(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            composite.alias("quality_score"),
            F.when(composite >= 0.8, F.lit("high"))
            .when(composite >= 0.5, F.lit("medium"))
            .otherwise(F.lit("low"))
            .alias("quality_band"),
        )
    )


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS BIGINT) AS canon_len
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized content fingerprint (case/punct/ws-insensitive md5)."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.length(canon).cast("bigint").alias("canon_len"),
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
    The score arithmetic mirrors scoring._anchor_score_udf operation-for-
    operation (int counts -> one division -> one min chain), so doubles are
    bit-identical."""
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


def _near_dup_oracle() -> str:
    bsql = ORACLE["lsh_buckets"]
    return f"""
    WITH bk AS ({bsql}),
    base AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec, b.bucket
      FROM embeddings e JOIN bk b ON e.vec_id = b.doc)
    SELECT a.nid AS doc_a, b.nid AS doc_b,
           ROUND(list_aggregate(list_transform(list_zip(a.nvec, b.nvec), p -> p[1]*p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x), 'sum'))), 6) AS cos
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.nid < b.nid
    WHERE ROUND(list_aggregate(list_transform(list_zip(a.nvec, b.nvec), p -> p[1]*p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x), 'sum'))), 6) >= CAST(0.3 AS DOUBLE)
    """


@query("embedding_near_dup", _near_dup_oracle())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the ANN scale path: sign-LSH
    bucket join first (shuffle key = bucket, never the full cross join),
    exact cosine + threshold only within buckets. The DuckDB twin mirrors
    the same bucketed plan; brute-force cosine is verified separately by
    `cosine_topk`, and the bucketing itself by `lsh_buckets`."""
    emb = _cpu(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "vec_id", "embedding")
    base = emb.select(
        F.col("vec_id").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("nvec"),
    ).join(buckets.select(F.col("doc").alias("nid"), "bucket"), "nid")
    a = base.select(F.col("nid").alias("doc_a"), F.col("nvec").alias("va"), "bucket")
    b = base.select(F.col("nid").alias("doc_b"), F.col("nvec").alias("vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("doc_a") < F.col("doc_b"))
    cos = F.round(similarity.cosine(F.col("va"), F.col("vb")), similarity.ROUND)
    return pairs.select("doc_a", "doc_b", cos.alias("cos")).filter(F.col("cos") >= 0.3)


_PII_SUFFIX = (
    " contact sales.lead@example.org or +91 98765 43210 ref 2345 6789 0123"
)


def _pii_oracle() -> str:
    from ocr_spark.functions.curation import PII_PATTERNS

    expr = "noisy"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({expr}, '{pat}'))")
        expr = f"regexp_replace({expr}, '{pat}', '[{name.upper()}]', 'g')"
    n = " + ".join(counts)
    return f"""
    WITH src AS (SELECT doc_id, text || '{_PII_SUFFIX}' AS noisy FROM documents)
    SELECT doc_id, {expr} AS scrubbed, CAST({n} AS BIGINT) AS n_redactions
    FROM src
    """


@query("pii_scrub", _pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrubbing: typed redaction of emails / phones /
    12-digit ids — a pure codegen'd regexp projection (no shuffle)."""
    from ocr_spark.functions.curation import pii_scrub

    noisy = F.concat(F.col("text"), F.lit(_PII_SUFFIX))
    scrubbed, n = pii_scrub(noisy)
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id", scrubbed.alias("scrubbed"), n.cast("bigint").alias("n_redactions")
    )


def _lm_oracle() -> str:
    return """
    WITH base AS (
      SELECT doc_id AS doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words
      FROM documents),
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    uni AS (SELECT w, COUNT(*) AS c1 FROM flat GROUP BY w),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    bgl AS (
      SELECT doc,
             list_transform(generate_series(1, len(words) - 1), i -> words[i]) AS w1s,
             list_transform(generate_series(1, len(words) - 1),
                            i -> words[i] || ' ' || words[i + 1]) AS bgs
      FROM base),
    bigrams AS (SELECT doc, unnest(w1s) AS w1, unnest(bgs) AS bg FROM bgl),
    big AS (SELECT bg, COUNT(*) AS c2 FROM bigrams GROUP BY bg),
    terms AS (
      SELECT b.doc,
             CAST(ROUND(ln((big.c2 + 1) / (uni.c1 + vocab.v)) * 1000000) AS BIGINT) AS t
      FROM bigrams b JOIN big USING (bg) JOIN uni ON uni.w = b.w1 CROSS JOIN vocab),
    per_doc AS (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(t) AS BIGINT) AS sum_logp_micro
      FROM terms GROUP BY doc)
    SELECT b.doc, COALESCE(p.n_terms, 0) AS n_terms,
           COALESCE(p.sum_logp_micro, 0) AS sum_logp_micro,
           CASE WHEN p.n_terms IS NOT NULL THEN
             ROUND(exp(-p.sum_logp_micro / p.n_terms / CAST(1000000 AS DOUBLE)), 6)
           END AS ppl
    FROM (SELECT doc FROM base) b LEFT JOIN per_doc p USING (doc)
    """


@query("ngram_lm_score", _lm_oracle())
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM self-perplexity quality score (CCNet/Gopher-style filter):
    corpus-trained counts, add-one smoothing, exact BIGINT micro-nat sums
    so the per-doc aggregate is order-free cross-engine."""
    from ocr_spark.functions.curation import ngram_lm_score

    return ngram_lm_score(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


_URL = (
    ["https://www", 5, ".site", 97, ".co.in/a/b", 7, "?q=1"],
    ["http://cdn", 11, ".example.org:8080/x/y/z"],
    ["HTTPS://UP", 13, ".Example.COM/a"],
    ["http://[2001:db8::", 9, "]:8080/x/y"],
    ["https://host", 23, ".io/"],
)
_URL_SQL = f"SELECT doc_id, {case_sql('doc_id', _URL)} AS url FROM documents"


@query(
    "url_host_stats",
    f"""
    WITH u AS ({_URL_SQL}),
    p AS (
      SELECT lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path
      FROM u),
    d AS (
      SELECT host, regexp_extract(host, '\\.([a-z]+)$', 1) AS tld,
             CAST(length(path) - length(replace(path, '/', '')) AS BIGINT) AS depth
      FROM p)
    SELECT host, tld, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(depth) AS BIGINT) AS sum_depth,
           CAST(MAX(depth) AS BIGINT) AS max_depth
    FROM d GROUP BY host, tld
    """,
)
def q_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl statistics over deterministic synthetic urls (hosts
    with ports, query strings, country TLDs, bare roots, uppercase schemes
    and mixed-case hosts, IPv6 bracket literals with ports)."""
    from ocr_spark.functions.curation import url_host_stats

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _URL).alias("url"))
    return url_host_stats(docs, "url")


_WORDS_CTE = """
    base AS (
      SELECT doc_id AS doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words
      FROM documents)
"""


@query(
    "repetition_stats",
    f"""
    WITH {_WORDS_CTE},
    g AS (
      SELECT doc, 1 AS n, unnest(words) AS gram FROM base
      UNION ALL
      SELECT doc, 2 AS n,
             unnest(list_transform(generate_series(1, len(words) - 1),
                                   i -> words[i] || ' ' || words[i + 1])) AS gram
      FROM base
      UNION ALL
      SELECT doc, 3 AS n,
             unnest(list_transform(generate_series(1, len(words) - 2),
                                   i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
      FROM base),
    c AS (SELECT doc, n, gram, COUNT(*) AS c FROM g GROUP BY doc, n, gram),
    s AS (SELECT doc, n, SUM(c) AS total, MAX(c) AS mx,
                 SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
          FROM c GROUP BY doc, n),
    p AS (SELECT doc,
                 MAX(CASE WHEN n = 1 THEN total END) AS n1,
                 MAX(CASE WHEN n = 1 THEN mx END) AS mx1,
                 MAX(CASE WHEN n = 2 THEN total END) AS n2,
                 MAX(CASE WHEN n = 2 THEN mx END) AS mx2,
                 MAX(CASE WHEN n = 3 THEN total END) AS n3,
                 MAX(CASE WHEN n = 3 THEN dup END) AS d3
          FROM s GROUP BY doc)
    SELECT b.doc, CAST(COALESCE(n1, 0) AS BIGINT) AS n_words,
           ROUND(CAST(mx1 AS DOUBLE) / n1, 6) AS max_word_frac,
           ROUND(CAST(mx2 AS DOUBLE) / n2, 6) AS top_bigram_frac,
           ROUND(CAST(d3 AS DOUBLE) / n3, 6) AS dup_trigram_frac
    FROM (SELECT doc FROM base) b LEFT JOIN p USING (doc)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (max-word / top-bigram / duplicated-
    trigram fractions) per document — the stuffing/boilerplate detector of
    a training-data quality pass."""
    from ocr_spark.functions.curation import repetition_stats

    return repetition_stats(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "corpus_dup_ngrams",
    f"""
    WITH {_WORDS_CTE},
    g AS (
      SELECT DISTINCT doc, gram FROM (
        SELECT doc,
               unnest(list_transform(generate_series(1, len(words) - 2),
                                     i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
        FROM base)),
    freq AS (SELECT gram, COUNT(*) AS dfreq FROM g GROUP BY gram),
    p AS (SELECT doc, COUNT(*) AS n_grams,
                 SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS n_shared
          FROM g JOIN freq USING (gram) GROUP BY doc)
    SELECT b.doc, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(CAST(n_shared AS DOUBLE) / n_grams, 6) AS shared_frac
    FROM (SELECT doc FROM base) b LEFT JOIN p USING (doc)
    """,
)
def q_corpus_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level boilerplate: per-document fraction of distinct
    trigrams shared with at least one other document."""
    from ocr_spark.functions.curation import corpus_dup_ngrams

    return corpus_dup_ngrams(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", n=3, min_docs=2)


_MESSY_URL = (
    ["HTTP://Site", 7, ".COM:80/A/b?x=1&utm_source=feed#frag"],
    ["https://host", 5, ".org:443?utm_campaign=a&utm_medium=b"],
    ["https://h", 9, ".net:8443/p?gclid=abc&q=2"],
    ["http://plain", 11, ".io"],
    ["http://[2001:db8::", 3, "]:80/v?fbclid=z"],
    ["https://ok", 13, ".co/path/q?a=1&b=2"],
)
_MESSY_URL_SQL = _docs_sql(_MESSY_URL, "url")

_TRACKING_SQL = "(utm_[a-z0-9]+|fbclid|gclid|msclkid)"


@query(
    "canonical_urls",
    f"""
    WITH u AS ({_MESSY_URL_SQL}),
    s1 AS (SELECT doc, url, regexp_replace(url, '#.*', '') AS c FROM u),
    s2 AS (SELECT doc, url,
                  regexp_replace(regexp_replace(
                    lower(regexp_extract(c, '(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)', 1)),
                    '^(http://.*):80$', '\\1'),
                    '^(https://.*):443$', '\\1')
                  || regexp_replace(c, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', '') AS c
           FROM s1),
    s3 AS (SELECT doc, url,
                  regexp_replace(regexp_replace(regexp_replace(
                    c, '&{_TRACKING_SQL}=[^&#]*', '', 'g'),
                    '\\?{_TRACKING_SQL}=[^&#]*&?', '?'),
                    '\\?$', '') AS c
           FROM s2)
    SELECT doc, url,
           regexp_replace(regexp_replace(
             c, '^([a-z][a-z0-9+.-]*://[^/?#]+)$', '\\1/'),
             '^([a-z][a-z0-9+.-]*://[^/?#]+)\\?', '\\1/?') AS canon
    FROM s3
    """,
)
def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministic messy urls (fragments,
    uppercase scheme/host, default and non-default ports, tracking params in
    every position, bare authorities, IPv6 literals) — the projection that
    precedes URL-level dedup."""
    from ocr_spark.functions.curation import canonical_url

    docs = _docs(spark, sf_dir, _MESSY_URL, "url")
    return docs.select("doc", "url", canonical_url(F.col("url")).alias("canon"))


@query(
    "asof_view_click",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, 0 AS side,
             struct_pack(id := event_id, t := ts, v := value) AS r
      FROM events WHERE event_type = 'view'
      UNION ALL
      SELECT user_id, ts, event_id, 1 AS side, NULL AS r
      FROM events WHERE event_type = 'click'),
    m AS (
      SELECT user_id, ts, event_id, side,
             last_value(r IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mr
      FROM u)
    SELECT event_id AS click_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           mr.id AS matched_view,
           CASE WHEN mr.id IS NOT NULL
                THEN CAST(epoch_us(ts) - epoch_us(mr.t) AS BIGINT) END AS lag_us,
           CAST(ROUND(mr.v * 100) AS BIGINT) AS view_value_cents
    FROM m WHERE side = 1
    """,
)
def q_asof_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (attribution): each click matched to the latest view of
    the same user at or before it, via the union + single-shuffle +
    running last(ignorenulls) pattern — never a per-key range join."""
    from ocr_spark.functions.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    j = asof_join(clicks, views, key="user_id", ts="ts",
                  id_col="event_id", right_cols=("value",))
    matched = F.col("matched_id")
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        matched.alias("matched_view"),
        F.when(
            matched.isNotNull(),
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("matched_ts").cast("timestamp")),
        ).cast("bigint").alias("lag_us"),
        F.round(F.col("matched_value") * 100).cast("bigint").alias("view_value_cents"),
    )


@query(
    "event_range_pairs",
    """
    WITH e AS (
      SELECT user_id AS k, event_id AS id, epoch_us(ts) AS t,
             CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 120000000) AS BIGINT) AS bucket
      FROM events),
    p AS (
      SELECT a.k, a.id AS id_a, b.id AS id_b, b.t - a.t AS gap_us
      FROM e a JOIN e b ON a.k = b.k AND a.bucket = b.bucket
      UNION ALL
      SELECT a.k, a.id AS id_a, b.id AS id_b, b.t - a.t AS gap_us
      FROM e a JOIN e b ON a.k = b.k AND a.bucket + 1 = b.bucket)
    SELECT k AS user_id, id_a, id_b, CAST(gap_us AS BIGINT) AS gap_us
    FROM p
    WHERE gap_us >= 0 AND gap_us <= 120000000 AND id_a != id_b
    """,
)
def q_event_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window range join: ordered pairs of same-user events within two
    minutes, via max-gap-wide time buckets + two equi-joins (same/adjacent
    bucket) — never a per-user cross join."""
    from ocr_spark.functions.temporal import range_pairs

    return range_pairs(
        _t(spark, sf_dir, "events"), key="user_id", ts="ts",
        id_col="event_id", max_gap_us=120_000_000)


@query(
    "event_rate_anomalies",
    """
    WITH hourly AS (
      SELECT event_type,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS sq
      FROM hourly GROUP BY event_type),
    z AS (
      SELECT h.event_type, h.hour_start, h.n,
             sqrt((CAST(sq AS DOUBLE) / n_hours)
                  - (CAST(s AS DOUBLE) / n_hours) * (CAST(s AS DOUBLE) / n_hours)) AS sd,
             CAST(h.n AS DOUBLE) - (CAST(s AS DOUBLE) / n_hours) AS dev
      FROM hourly h JOIN stats USING (event_type))
    SELECT event_type, hour_start, n,
           CASE WHEN sd > 0 THEN ROUND(dev / sd, 6) END AS z,
           CAST(CASE WHEN sd > 0 AND abs(dev / sd) > 3.0 THEN 1 ELSE 0 END AS INT)
             AS is_anomaly
    FROM z
    """,
)
def q_event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: per-type hourly counts z-scored
    against that type's own hourly distribution (population std from
    exact integer sum / sum-of-squares, one fixed-order float pass),
    |z| > 3 flagged — the traffic-spike / outage detector over the
    event stream."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("s").cast("double") / F.col("n_hours")
    sd = F.sqrt(
        (F.col("sq").cast("double") / F.col("n_hours")) - mean * mean)
    dev = F.col("n").cast("double") - mean
    return j.select(
        "event_type", "hour_start", "n",
        F.when(sd > 0, F.round(dev / sd, 6)).alias("z"),
        ((sd > 0) & (F.abs(dev / sd) > 3.0)).cast("int").alias("is_anomaly"),
    )


_FK_REL_SQL = """
    SELECT '{name}' AS relationship,
           CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_orphans,
           CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_orphan_keys
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON c.{fk} = p.{pk}
    WHERE p.{pk} IS NULL
"""

_FK_CORRUPT_SQL = """
    (SELECT o_orderkey,
            CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
                 ELSE o_custkey END AS o_custkey
     FROM orders)
"""


@query(
    "fk_violations",
    " UNION ALL ".join([
        _FK_REL_SQL.format(name="orders->customer", child="orders",
                           fk="o_custkey", parent="customer", pk="c_custkey"),
        _FK_REL_SQL.format(name="lineitem->orders", child="lineitem",
                           fk="l_orderkey", parent="orders", pk="o_orderkey"),
        _FK_REL_SQL.format(name="customer->nation", child="customer",
                           fk="c_nationkey", parent="nation", pk="n_nationkey"),
        _FK_REL_SQL.format(name="nation->region", child="nation",
                           fk="n_regionkey", parent="region", pk="r_regionkey"),
        _FK_REL_SQL.format(name="corrupted->customer",
                           child=_FK_CORRUPT_SQL, fk="o_custkey",
                           parent="customer", pk="c_custkey"),
    ]),
)
def q_fk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity validation suite across the star schema's
    foreign keys, plus one deliberately corrupted relationship (every
    97th order's custkey shifted out of range) proving the check fires.
    Each relationship is one fk-keyed anti-join feeding a global agg."""
    from ocr_spark.functions.curation import fk_violations

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    corrupted = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey")).alias("o_custkey"),
    )
    reports = [
        fk_violations(o, "o_custkey", c, "c_custkey", "orders->customer"),
        fk_violations(li, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
        fk_violations(c, "c_nationkey", n, "n_nationkey", "customer->nation"),
        fk_violations(n, "n_regionkey", r, "r_regionkey", "nation->region"),
        fk_violations(corrupted, "o_custkey", c, "c_custkey",
                      "corrupted->customer"),
    ]
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


@query(
    "unigram_kl",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    tf AS (SELECT doc, w, COUNT(*) AS tf FROM flat GROUP BY doc, w),
    cf AS (SELECT w, COUNT(*) AS cf FROM flat GROUP BY w),
    tot AS (SELECT COUNT(*) AS t FROM flat),
    dl AS (SELECT doc, CAST(len(words) AS BIGINT) AS dl FROM base),
    per AS (
      SELECT tf.doc,
             CAST(SUM(tf.tf * CAST(round(
               ln(CAST(tf.tf * t.t AS DOUBLE) / (dl.dl * cf.cf)) * 1000000)
               AS BIGINT)) AS BIGINT) AS kl_micro
      FROM tf JOIN cf USING (w) JOIN dl ON dl.doc = tf.doc CROSS JOIN tot t
      GROUP BY tf.doc)
    SELECT d.doc, d.dl AS n_tokens,
           CAST(COALESCE(p.kl_micro, 0) AS BIGINT) AS kl_micro,
           CASE WHEN d.dl > 0
                THEN CAST(p.kl_micro AS DOUBLE) / d.dl
                     / CAST(1000000 AS DOUBLE) END AS kl
    FROM dl d LEFT JOIN per p USING (doc)
    """,
)
def q_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document KL divergence from the corpus unigram distribution —
    the model-free domain-shift / outlier signal, in exact integer
    micro-nats (order-free per-doc sums)."""
    from ocr_spark.functions.curation import unigram_kl

    return unigram_kl(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dsir_select",
    f"""
    WITH base AS (
      SELECT doc_id AS doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
      FROM documents),
    flat AS (SELECT doc, is_t, unnest(words) AS w FROM base),
    tf AS (SELECT doc, w, COUNT(*) AS tf, MAX(is_t) AS is_t
           FROM flat GROUP BY doc, w),
    ws AS (SELECT w, SUM(tf) AS cf_r,
                  SUM(CASE WHEN is_t = 1 THEN tf ELSE 0 END) AS cf_t
           FROM tf GROUP BY w),
    tot AS (SELECT SUM(cf_r) AS tr, SUM(cf_t) AS tt, COUNT(*) AS v FROM ws),
    rated AS (
      SELECT w, CAST(round(ln(
               CAST((cf_t + 1) * (tr + v) AS DOUBLE)
               / ((cf_r + 1) * (tt + v))) * 1000000) AS BIGINT) AS mic
      FROM ws CROSS JOIN tot),
    per AS (SELECT tf.doc, CAST(SUM(tf.tf * rated.mic) AS BIGINT) AS logw_micro
            FROM tf JOIN rated USING (w) GROUP BY tf.doc),
    scored AS (
      SELECT b.doc, CAST(len(b.words) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.logw_micro, 0) AS BIGINT) AS logw_micro
      FROM base b LEFT JOIN per p USING (doc)),
    kk AS (SELECT CAST(ceil(COUNT(*) * 0.1) AS BIGINT) AS k FROM scored)
    SELECT doc, n_tokens, logw_micro, CAST(rk AS BIGINT) AS rk
    FROM (SELECT doc, n_tokens, logw_micro,
                 ROW_NUMBER() OVER (ORDER BY logw_micro DESC, doc) AS rk
          FROM scored) CROSS JOIN kk
    WHERE rk <= k
    """,
    eager=True,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-resampling selection: fit target (lang='en')
    vs raw unigram LMs with add-1 smoothing, weight every document by its
    exact integer micro-nat log importance ratio, keep the top 10% — the
    published data-selection recipe (Xie et al. 2023) as one lazy Spark
    program with a distributed sort-limit top-k."""
    from ocr_spark.functions.curation import dsir_select

    return dsir_select(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        is_target=F.col("lang") == "en", frac=0.1,
    )


@query(
    "weighted_sample",
    f"""
    WITH {_WORDS_CTE},
    scored AS (
      SELECT doc, CAST(len(words) AS BIGINT) AS weight,
             CASE WHEN len(words) > 0 THEN CAST(round(
               ln((('0x' || substr(md5(CAST(doc AS VARCHAR) || ':aes'), 1, 8))::BIGINT + 1)
                  / CAST(4294967296 AS DOUBLE))
               / len(words) * 1000000) AS BIGINT) END AS key_micro
      FROM base),
    top AS (
      SELECT doc, weight, key_micro,
             ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc) AS rk
      FROM scored WHERE key_micro IS NOT NULL)
    SELECT doc, weight, key_micro, CAST(rk AS BIGINT) AS rk
    FROM top WHERE rk <= 50
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES keys from md5 uniforms): 50 docs drawn proportional to
    word count, reproducible across engines and partitionings — the
    weight-proportional member of the sampling family."""
    from ocr_spark.functions.curation import weighted_sample

    d = _t(spark, sf_dir, "documents")
    words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    base = d.select("doc_id", F.size(words).cast("bigint").alias("n_words"))
    return weighted_sample(base, "doc_id", F.col("n_words"), k=50)


@query(
    "gopher_rules",
    f"""
    WITH {_WORDS_CTE},
    m AS (
      SELECT doc, CAST(len(words) AS BIGINT) AS n_words,
             CASE WHEN len(words) > 0 THEN ROUND(
               CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
               / len(words), 6) END AS mean_wlen,
             CASE WHEN len(words) > 0 THEN ROUND(
               CAST(len(list_filter(words,
                 w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
               / len(words), 6) END AS alpha_frac,
             CAST(len(list_filter(words, w -> w IN ({_STOP_SQL})))
                  AS BIGINT) AS n_stop
      FROM base),
    p AS (
      SELECT *,
             (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
             (mean_wlen IS NOT NULL AND mean_wlen >= 3.0
              AND mean_wlen <= 10.0) AS pass_mean_wlen,
             (alpha_frac IS NOT NULL AND alpha_frac >= 0.8) AS pass_alpha,
             (n_stop >= 2) AS pass_stopwords
      FROM m)
    SELECT doc, n_words, mean_wlen, alpha_frac, n_stop,
           pass_word_count, pass_mean_wlen, pass_alpha, pass_stopwords,
           (pass_word_count AND pass_mean_wlen AND pass_alpha
            AND pass_stopwords) AS keep
    FROM p
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher word-level quality gate (Rae et al. 2021 Table A1): word
    count, mean word length, alphabetic-word fraction, and stop-word
    presence, each reported as a flag beside its signal plus the
    conjunctive keep — a zero-shuffle HOF projection."""
    from ocr_spark.functions.curation import gopher_rules

    return gopher_rules(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


_C4_SQL = """
    SELECT doc_id,
           array_to_string(
             ['home | about | contact edition ' || CAST(doc_id % 5 AS VARCHAR)]
             || list_transform(
                  generate_series(1, CAST(ceil(len(words) / 10.0) AS INT)),
                  i -> array_to_string(words[(i-1)*10+1 : (i-1)*10+10], ' ')
                       || CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END)
             || CASE WHEN doc_id % 5 = 0
                     THEN ['please enable javascript to view this page.']
                     ELSE CAST([] AS VARCHAR[]) END
             || CASE WHEN doc_id % 11 = 0
                     THEN ['Lorem ipsum dolor sit amet.']
                     ELSE CAST([] AS VARCHAR[]) END
             || CASE WHEN doc_id % 13 = 0
                     THEN ['function() { return 1; }']
                     ELSE CAST([] AS VARCHAR[]) END,
             chr(10)) AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""


def _c4_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-page fixture for the C4 line filter: word chunks as lines with
    deterministic terminal punctuation, a nav header, and per-id-residue
    javascript / lorem-ipsum / code-brace pollution lines."""
    d = _cpu(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), nchunks),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(words, (i - 1) * 10 + 1, 10)),
            F.when(((F.col("doc_id") + i) % 3) != 0, F.lit(".")).otherwise(
                F.lit("")),
        ),
    )
    header = F.concat(
        F.lit("home | about | contact edition "),
        (F.col("doc_id") % 5).cast("string"),
    )
    empty = F.array().cast("array<string>")
    maybe = lambda cond, s: F.when(cond, F.array(F.lit(s))).otherwise(empty)
    lines = F.concat(
        F.array(header),
        chunks,
        maybe(F.col("doc_id") % 5 == 0,
              "please enable javascript to view this page."),
        maybe(F.col("doc_id") % 11 == 0, "Lorem ipsum dolor sit amet."),
        maybe(F.col("doc_id") % 13 == 0, "function() { return 1; }"),
    )
    return d.select("doc_id", F.array_join(lines, "\n").alias("text"))


@query(
    "c4_filter",
    f"""
    WITH ml AS ({_C4_SQL}),
    lx AS (SELECT doc_id AS doc, text AS t,
                  string_split(text, chr(10)) AS ls FROM ml),
    k AS (
      SELECT doc, t, ls,
             list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
                              AND len(string_split_regex(trim(l), '\\s+')) >= 3
                              AND NOT contains(lower(l), 'javascript')) AS kept
      FROM lx),
    d AS (
      SELECT doc, CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             (NOT (contains(lower(t), 'lorem ipsum') OR contains(t, '{{'))
              AND len(kept) >= 3) AS keep,
             kept
      FROM k)
    SELECT doc, n_lines, n_kept, keep,
           CASE WHEN keep THEN array_to_string(kept, chr(10))
                ELSE '' END AS clean_text
    FROM d
    """,
)
def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level page cleaning (Raffel et al. 2020 §2.2) over the
    multi-line web-page fixture: terminal-punctuation and min-word line
    retention, javascript-line removal, lorem-ipsum / curly-brace page
    discard, min-surviving-lines gate, and page rebuild."""
    from ocr_spark.functions.curation import c4_filter

    return c4_filter(_c4_docs(spark, sf_dir), "doc_id", "text")


@query(
    "json_props_stats",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
    FROM (SELECT event_type,
                 CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column processing: parse the JSON props payload,
    extract the numeric field, and aggregate per event type — JSON-path
    extraction runs inside the scan projection (codegen'd), so the
    aggregation sees plain integers and nothing re-parses downstream."""
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k").isNull().cast("bigint")).alias("n_bad"),
        )
    )


_HLL_ALPHA_MM = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256)


@query(
    "hll_distinct_events",
    f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events),
    p AS (SELECT h // 16777216 AS j, h % 16777216 AS rest FROM h),
    r AS (SELECT j, CASE WHEN rest = 0 THEN 25
                         ELSE 25 - length(bin(rest)) END AS rho
          FROM p),
    regs AS (SELECT j, MAX(rho) AS mj FROM r GROUP BY j),
    frame AS (SELECT unnest(generate_series(0, 255)) AS j),
    filled AS (SELECT COALESCE(regs.mj, 0) AS mj
             FROM frame LEFT JOIN regs USING (j)),
    s AS (SELECT CAST(SUM(CAST(1 AS BIGINT) << (32 - mj)) AS BIGINT) AS sum_scaled
          FROM filled),
    e AS (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_distinct
          FROM events)
    SELECT CAST(256 AS BIGINT) AS m, sum_scaled,
           ROUND(CAST({_HLL_ALPHA_MM} AS DOUBLE)
                 / (CAST(sum_scaled AS DOUBLE) / CAST(4294967296 AS DOUBLE)),
                 2) AS est_distinct,
           exact_distinct
    FROM s CROSS JOIN e
    """,
)
def q_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct sketch over event ids (256 md5-derived
    registers, integer-exact harmonic denominator), reported next to the
    exact distinct — the mergeable cardinality sketch at its error budget."""
    from ocr_spark.functions.curation import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "events"), "event_id", b=8)


@query(
    "bloom_semijoin",
    f"""
    WITH hs AS (SELECT unnest(generate_series(1, 3)) AS i),
    dimk AS (SELECT DISTINCT c_custkey AS key FROM customer
             WHERE c_mktsegment = 'BUILDING'),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(
        CAST(key AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
        % 1024 AS p
      FROM dimk CROSS JOIN hs),
    fk AS (SELECT DISTINCT o_custkey AS key FROM orders),
    probe AS (
      SELECT key, ('0x' || substr(md5(
        CAST(key AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
        % 1024 AS p
      FROM fk CROSS JOIN hs),
    passk AS (
      SELECT probe.key,
             (SUM(CASE WHEN bits.p IS NOT NULL THEN 1 ELSE 0 END) = 3)
               AS bloom_pass
      FROM probe LEFT JOIN bits ON probe.p = bits.p GROUP BY probe.key),
    flags AS (
      SELECT passk.key, passk.bloom_pass, (dimk.key IS NOT NULL) AS in_dim
      FROM passk LEFT JOIN dimk ON passk.key = dimk.key),
    rows_ AS (
      SELECT f.bloom_pass, f.in_dim
      FROM orders o JOIN flags f ON o.o_custkey = f.key),
    agg AS (
      SELECT COUNT(*) AS n_fact,
             SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS n_pass_bloom,
             SUM(CASE WHEN in_dim THEN 1 ELSE 0 END) AS n_true,
             SUM(CASE WHEN bloom_pass AND NOT in_dim THEN 1 ELSE 0 END)
               AS n_false_pos
      FROM rows_),
    nd AS (SELECT COUNT(*) AS n_dim_keys FROM dimk),
    nb AS (SELECT COUNT(*) AS n_set_bits FROM bits)
    SELECT CAST(1024 AS BIGINT) AS m, CAST(3 AS BIGINT) AS k,
           CAST(n_dim_keys AS BIGINT) AS n_dim_keys,
           CAST(n_set_bits AS BIGINT) AS n_set_bits,
           CAST(n_fact AS BIGINT) AS n_fact,
           CAST(n_pass_bloom AS BIGINT) AS n_pass_bloom,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           CASE WHEN n_fact > n_true
                THEN ROUND(CAST(n_false_pos AS DOUBLE) / (n_fact - n_true), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS fp_rate
    FROM agg CROSS JOIN nd CROSS JOIN nb
    """,
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning report: a 1024-bit / 3-hash filter
    over the BUILDING-segment customer keys probes every order row, next
    to the exact semi-join — the runtime-filter pattern with its measured
    false-positive rate."""
    from ocr_spark.functions.curation import bloom_semijoin

    return bloom_semijoin(
        _t(spark, sf_dir, "orders"), "o_custkey",
        _t(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"),
        "c_custkey", m=1024, k=3,
    )


@query(
    "cms_heavy_hitters",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT unnest(words) AS word FROM base),
    hs AS (SELECT unnest(generate_series(1, 4)) AS i),
    truec AS (SELECT word, COUNT(*) AS true_cnt FROM flat GROUP BY word),
    occ AS (
      SELECT i, ('0x' || substr(md5(
        word || ':cms' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1024 AS cell
      FROM flat CROSS JOIN hs),
    sketch AS (SELECT i, cell, COUNT(*) AS c FROM occ GROUP BY i, cell),
    top AS (
      SELECT word, true_cnt, rk FROM (
        SELECT word, true_cnt,
               ROW_NUMBER() OVER (ORDER BY true_cnt DESC, word) AS rk
        FROM truec) WHERE rk <= 20),
    probes AS (
      SELECT word, true_cnt, rk, i, ('0x' || substr(md5(
        word || ':cms' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1024 AS cell
      FROM top CROSS JOIN hs),
    est AS (
      SELECT word, true_cnt, rk, MIN(c) AS est_cnt
      FROM probes JOIN sketch USING (i, cell)
      GROUP BY word, true_cnt, rk)
    SELECT word, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overcount,
           CAST(rk AS BIGINT) AS rk
    FROM est
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4 x 1024 md5-derived counters) over the corpus
    word stream, point-estimates for the true top-20 words beside exact
    counts — the mergeable frequency sketch next to the HLL cardinality
    sketch."""
    from ocr_spark.functions.curation import cms_heavy_hitters

    return cms_heavy_hitters(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        d=4, w=1024, topn=20,
    )


def _logreg_oracle_sql(n_iters: int = 5, lr: float = 1.0) -> str:
    """Unrolled-iteration DuckDB twin of ml.logreg_quality over the
    documents quality features (same integer micro quantization, same
    fixed iteration count — the pagerank-oracle pattern for training)."""
    def p_expr(w: str) -> str:
        return (f"(1.0 / (1.0 + exp(-(({w}.w0 * 1000000 + {w}.w1 * f1 + "
                f"{w}.w2 * f2 + {w}.w3 * f3) / 1000000000000.0))))")

    its = ""
    prev = "wi0"
    for i in range(1, n_iters + 1):
        p = p_expr("w")
        its += f""",
    g{i} AS (
      SELECT SUM(CAST(round(({p} - y) * 1000000) AS BIGINT)) AS g0,
             SUM(CAST(round(({p} - y) * f1) AS BIGINT)) AS g1,
             SUM(CAST(round(({p} - y) * f2) AS BIGINT)) AS g2,
             SUM(CAST(round(({p} - y) * f3) AS BIGINT)) AS g3
      FROM feats CROSS JOIN {prev} w),
    wi{i} AS (
      SELECT w.w0 - CAST(round({lr!r} * g.g0 / nn.n) AS BIGINT) AS w0,
             w.w1 - CAST(round({lr!r} * g.g1 / nn.n) AS BIGINT) AS w1,
             w.w2 - CAST(round({lr!r} * g.g2 / nn.n) AS BIGINT) AS w2,
             w.w3 - CAST(round({lr!r} * g.g3 / nn.n) AS BIGINT) AS w3
      FROM {prev} w CROSS JOIN g{i} g CROSS JOIN nn)"""
        prev = f"wi{i}"
    pfin = p_expr("w")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             text || repeat(CASE WHEN doc_id % 3 = 0 THEN ' the and for'
                                 ELSE ' kappa lambda sigma' END,
                            CAST(1 + doc_id % 4 AS INT)) AS text,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM documents),
    base AS (
      SELECT doc_id AS doc, y,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words
      FROM aug),
    rawf AS (
      SELECT doc,
             CAST(LEAST(len(words), 200) * 5000 AS BIGINT) AS f1,
             CAST(CASE WHEN len(words) > 0 THEN round(
               CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
               * 1000000 / (len(words) * 10.0)) ELSE 0 END AS BIGINT) AS f2,
             CAST(CASE WHEN len(words) > 0 THEN round(
               CAST(len(list_filter(words, w -> w IN ({_STOP_SQL}))) AS DOUBLE)
               * 1000000 / len(words)) ELSE 0 END AS BIGINT) AS f3,
             y
      FROM base),
    st AS (
      SELECT CAST(round(CAST(SUM(f1) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_f1,
             CAST(round(sqrt(GREATEST(
               CAST(SUM(f1 * f1) AS DOUBLE) / COUNT(*)
               - CAST(round(CAST(SUM(f1) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 * CAST(round(CAST(SUM(f1) AS DOUBLE) / COUNT(*)) AS BIGINT),
               0.0))) AS BIGINT) AS std_f1,
             CAST(round(CAST(SUM(f2) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_f2,
             CAST(round(sqrt(GREATEST(
               CAST(SUM(f2 * f2) AS DOUBLE) / COUNT(*)
               - CAST(round(CAST(SUM(f2) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 * CAST(round(CAST(SUM(f2) AS DOUBLE) / COUNT(*)) AS BIGINT),
               0.0))) AS BIGINT) AS std_f2,
             CAST(round(CAST(SUM(f3) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_f3,
             CAST(round(sqrt(GREATEST(
               CAST(SUM(f3 * f3) AS DOUBLE) / COUNT(*)
               - CAST(round(CAST(SUM(f3) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 * CAST(round(CAST(SUM(f3) AS DOUBLE) / COUNT(*)) AS BIGINT),
               0.0))) AS BIGINT) AS std_f3
      FROM rawf),
    feats AS (
      SELECT r.doc, r.y,
             CASE WHEN st.std_f1 > 0 THEN CAST(round(
               CAST(r.f1 - st.mean_f1 AS DOUBLE) * 1000000 / st.std_f1)
               AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f1,
             CASE WHEN st.std_f2 > 0 THEN CAST(round(
               CAST(r.f2 - st.mean_f2 AS DOUBLE) * 1000000 / st.std_f2)
               AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f2,
             CASE WHEN st.std_f3 > 0 THEN CAST(round(
               CAST(r.f3 - st.mean_f3 AS DOUBLE) * 1000000 / st.std_f3)
               AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f3
      FROM rawf r CROSS JOIN st),
    nn AS (SELECT COUNT(*) AS n FROM feats),
    wi0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3){its}
    SELECT doc, ROUND({pfin}, 6) AS score, ({pfin} >= 0.5) AS pred,
           CAST(y AS BIGINT) AS label
    FROM feats CROSS JOIN {prev} w
    """


@query("logreg_quality", _logreg_oracle_sql())
def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality-classifier training: 3 fixed iterations of
    full-batch gradient descent on word-count / mean-word-length /
    stop-word-fraction features (integer micro-quantized gradients, so
    the corpus SUM is order-free and the DuckDB twin unrolls the same
    iterations bit-exactly), then score every document — the fastText /
    CCNet-style quality-filter pattern, with deterministic z-score feature
    standardization. The label is a learnable fixture
    (docs deterministically augmented with stop-word-rich vs rare-word
    filler), so training demonstrably separates the classes — the
    accuracy floor is pinned in tests."""
    from ocr_spark import config as C
    from ocr_spark.functions.curation import _doc_words
    from ocr_spark.functions.ml import logreg_quality, standardize_micro

    d = _cpu(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(
                F.when(F.col("doc_id") % 3 == 0, F.lit(" the and for"))
                .otherwise(F.lit(" kappa lambda sigma")),
                (1 + F.col("doc_id") % 4).cast("int"),
            ),
        ).alias("text"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"),
    )
    base = _doc_words(aug, "doc_id", "text", keep=("y",))
    n = F.size("words")
    sum_len = F.aggregate(
        "words", F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w))
    stops = F.size(F.filter("words", lambda w: w.isin(C.STOPWORDS)))
    feats = base.select(
        "doc",
        (F.least(n.cast("bigint"), F.lit(200)) * 5000).cast("bigint").alias("f1"),
        F.when(n > 0, F.round(
            sum_len.cast("double") * 1000000 / (n * 10.0))).otherwise(0)
        .cast("bigint").alias("f2"),
        F.when(n > 0, F.round(
            stops.cast("double") * 1000000 / n)).otherwise(0)
        .cast("bigint").alias("f3"),
        "y",
    )
    feats = standardize_micro(feats, ("f1", "f2", "f3"))
    return logreg_quality(feats, "doc", ("f1", "f2", "f3"), "y",
                          n_iters=5, lr=1.0)


@query(
    "char_entropy",
    """
    WITH base AS (SELECT doc_id AS doc, trim(text) AS t FROM documents),
    cx AS (
      SELECT doc, length(t) AS n,
             CASE WHEN length(t) > 0 THEN
               list_transform(generate_series(1, length(t)),
                              i -> substr(t, i, 1))
             ELSE CAST([] AS VARCHAR[]) END AS cs
      FROM base),
    fl AS (SELECT doc, n, unnest(cs) AS c FROM cx),
    cnts AS (SELECT doc, c, COUNT(*) AS cnt, ANY_VALUE(n) AS n
             FROM fl GROUP BY doc, c),
    s AS (
      SELECT doc,
             SUM(cnt * CAST(round(ln(CAST(n AS DOUBLE) / cnt) * 1000000)
                            AS BIGINT)) AS hm
      FROM cnts GROUP BY doc)
    SELECT c.doc, CAST(c.n AS BIGINT) AS n_chars,
           CAST(COALESCE(s.hm, 0) AS BIGINT) AS h_micro,
           CASE WHEN c.n > 0 THEN
             CAST(s.hm AS DOUBLE) / c.n / 1000000 END AS entropy
    FROM cx c LEFT JOIN s USING (doc)
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (exact integer
    micro-nats, zero-Exchange run-length HOF scan) — the gibberish /
    encoding-garbage detector beside the word-level quality signals."""
    from ocr_spark.functions.curation import char_entropy

    return char_entropy(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "profile_events",
    """
    SELECT 'event_id' AS col, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(MIN(event_id) AS DOUBLE) AS min_num,
           CAST(MAX(event_id) AS DOUBLE) AS max_num
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT value) AS BIGINT),
           CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'ts', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT ts) AS BIGINT),
           CAST(MIN(epoch_us(ts)) AS DOUBLE), CAST(MAX(epoch_us(ts)) AS DOUBLE)
    FROM events
    """,
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report over the events table: row/null/exact
    distinct counts plus numeric min/max per column, in one aggregation
    pass over the scan."""
    from ocr_spark.functions.curation import profile_columns

    e = _t(spark, sf_dir, "events")
    return profile_columns(e, [
        ("event_id", F.col("event_id")),
        ("user_id", F.col("user_id")),
        ("event_type", None),
        ("value", F.col("value")),
        ("ts", F.unix_micros(F.col("ts").cast("timestamp"))),
    ])


_RECRAWL_TEXT = ([_TEXT, " updated"],) + ([_TEXT],) * 6
_RECRAWL_SQL = f"""
      SELECT doc_id, {case_sql('doc_id', _RECRAWL_TEXT)} AS text
      FROM documents WHERE doc_id % 13 != 0
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
"""


def _recrawl(old: DataFrame) -> DataFrame:
    """Spark twin of ``_RECRAWL_SQL``: a perturbed recrawl of ``old``."""
    k = F.col("doc_id")
    return old.filter(k % 13 != 0).select(
        "doc_id", case_col(k, _RECRAWL_TEXT).alias("text"),
    ).unionByName(
        old.filter(k % 17 == 0).select((k + 500000).alias("doc_id"), "text"))


@query(
    "snapshot_diff",
    f"""
    WITH newt AS ({_RECRAWL_SQL}),
    j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc, o.text AS ot, n.text AS nt
          FROM documents o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id)
    SELECT doc,
           CASE WHEN ot IS NULL THEN 'added'
                WHEN nt IS NULL THEN 'removed'
                WHEN ot = nt THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM j
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff against a deterministically perturbed recrawl
    (every 7th doc edited, every 13th dropped, every 17th re-added under a
    new id): added / removed / changed / unchanged per doc id, joined on
    fixed-width content hashes so text never crosses the shuffle."""
    from ocr_spark.functions.curation import snapshot_diff

    old = _t(spark, sf_dir, "documents")
    return snapshot_diff(old, _recrawl(old), "doc_id", "text")


@query(
    "crawl_merge",
    f"""
    WITH newt AS ({_RECRAWL_SQL}),
    oh AS (SELECT doc_id AS k, md5(text) AS oh FROM documents),
    nh AS (SELECT doc_id AS k, md5(text) AS nh FROM newt),
    j AS (SELECT COALESCE(oh.k, nh.k) AS k, oh.oh, nh.nh
          FROM oh FULL OUTER JOIN nh ON oh.k = nh.k)
    SELECT k AS doc,
           CASE WHEN oh IS NULL THEN 'inserted'
                WHEN nh IS NULL THEN 'retained'
                WHEN oh = nh THEN 'unchanged'
                ELSE 'updated' END AS action,
           COALESCE(nh, oh) AS content_hash
    FROM j
    """,
)
def q_crawl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO upsert of a perturbed recrawl into the crawl table
    (insert / update / unchanged / retained per row, hash-projected join)
    — the incremental-ingest counterpart of snapshot_diff."""
    from ocr_spark.functions.curation import merge_upsert

    old = _t(spark, sf_dir, "documents")
    return merge_upsert(old, _recrawl(old), "doc_id", "text")


@query(
    "session_windows",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    seg AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM seg GROUP BY user_id, sid
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window aggregation (30-min gap): Spark's
    session_window operator — the one the streaming path shares — with a
    gap-derivation DuckDB twin. Window bounds follow Spark's definition:
    [first event, last event + gap)."""
    ev = _t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.date_format("w.start", fmt).alias("session_start"),
            F.date_format("w.end", fmt).alias("session_end"),
            "n_events", "value_cents",
        )
    )


@query(
    "event_funnel",
    """
    WITH e AS (
      SELECT user_id AS k, epoch_us(ts) AS t, event_type AS typ
      FROM events WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT k, MIN(t) AS t1 FROM e WHERE typ = 'view' GROUP BY k),
    s2 AS (SELECT e.k, MIN(e.t) AS t2 FROM e JOIN s1 ON e.k = s1.k
           WHERE e.typ = 'click' AND e.t > s1.t1 GROUP BY e.k),
    s3 AS (SELECT e.k, MIN(e.t) AS t3 FROM e JOIN s2 ON e.k = s2.k
           WHERE e.typ = 'purchase' AND e.t > s2.t2 GROUP BY e.k)
    SELECT s1.k AS user_id,
           CAST(t1 AS BIGINT) AS t1, CAST(t2 AS BIGINT) AS t2,
           CAST(t3 AS BIGINT) AS t3,
           CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INT) AS stage
    FROM s1 LEFT JOIN s2 ON s1.k = s2.k LEFT JOIN s3 ON s1.k = s3.k
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel per user (first-touch
    anchoring, strict ordering): one conditional MIN per stage keyed on the
    user — no time self-join, no per-user window sort."""
    from ocr_spark.functions.temporal import funnel

    return funnel(_t(spark, sf_dir, "events"), "user_id", "ts", "event_type")


@query(
    "pack_shards",
    f"""
    WITH {_WORDS_CTE},
    b AS (
      SELECT doc,
             ('0x' || substr(md5('shard:v1:' || CAST(doc AS VARCHAR)), 1, 8))::BIGINT % 16
               AS bucket,
             CAST(len(words) AS BIGINT) AS n_tokens
      FROM base),
    c AS (
      SELECT doc, bucket, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM b)
    SELECT doc, bucket, n_tokens,
           CAST(bucket * 4294967296 + CAST(FLOOR(CAST(cum_before AS DOUBLE) / 5000) AS BIGINT) AS BIGINT) AS shard
    FROM c
    """,
)
def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget shard packing (5k tokens/shard, 16 hash buckets at
    this test scale): per-bucket windows only — no global sort anywhere."""
    from ocr_spark.functions.curation import pack_shards

    return pack_shards(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        tokens_per_shard=5000, n_buckets=16)


# Deterministic multi-line web-page twin of `documents`: a template header
# (5 variants) and footer (3 variants) around the document text re-wrapped
# into 10-word content lines — the line-structured corpus the line-level
# boilerplate ops run on. Built identically in both engines.
_MULTILINE_SQL = """
    SELECT doc_id,
           'home | about | contact | edition ' || CAST(doc_id % 5 AS VARCHAR)
           || chr(10) ||
           array_to_string(
             list_transform(
               generate_series(1, CAST(ceil(len(words) / 10.0) AS INT)),
               i -> array_to_string(words[(i-1)*10+1 : (i-1)*10+10], ' ')),
             chr(10))
           || chr(10) ||
           '(c) 2024 site' || CAST(doc_id % 3 AS VARCHAR)
           || ' all rights reserved' AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""


def _multiline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cpu(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), nchunks),
        lambda i: F.concat_ws(" ", F.slice(words, (i - 1) * 10 + 1, 10)),
    )
    header = F.concat(
        F.lit("home | about | contact | edition "),
        (F.col("doc_id") % 5).cast("string"),
    )
    footer = F.concat(
        F.lit("(c) 2024 site"), (F.col("doc_id") % 3).cast("string"),
        F.lit(" all rights reserved"),
    )
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n", header, F.array_join(chunks, "\n"), footer).alias("text"),
    )


@query(
    "line_dedup",
    f"""
    WITH ml AS ({_MULTILINE_SQL}),
    lx AS (SELECT doc_id AS doc, string_split(text, chr(10)) AS ls FROM ml),
    lines AS (
      SELECT doc, u.pos AS pos, u.line AS line
      FROM (SELECT doc,
                   unnest(list_transform(generate_series(1, len(ls)),
                                         i -> {{'pos': i, 'line': ls[i]}})) AS u
            FROM lx)),
    n AS (SELECT doc, pos, line,
                 CASE WHEN lower(trim(line)) = '' THEN NULL
                      ELSE md5(lower(trim(line))) END AS h
          FROM lines),
    freq AS (SELECT h, COUNT(*) AS dfreq
             FROM (SELECT DISTINCT doc, h FROM n WHERE h IS NOT NULL)
             GROUP BY h HAVING COUNT(*) >= 5),
    kept AS (SELECT n.doc, n.pos, n.line FROM n LEFT JOIN freq USING (h)
             WHERE dfreq IS NULL),
    reb AS (SELECT doc, COUNT(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc)
    SELECT l.doc, CAST(len(l.ls) AS BIGINT) AS n_lines,
           CAST(len(l.ls) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.clean_text, '') AS clean_text
    FROM lx l LEFT JOIN reb r USING (doc)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal over the
    multi-line web-page corpus: lines whose normalized form appears in >= 5
    documents (the template headers/footers) are dropped; each document is
    rebuilt from its surviving lines in original order."""
    from ocr_spark.functions.curation import line_dedup

    return line_dedup(_multiline_docs(spark, sf_dir), "doc_id", "text",
                      min_docs=5)


@query(
    "tfidf_topk",
    f"""
    WITH {_WORDS_CTE},
    nd AS (SELECT COUNT(*) AS n FROM base),
    tf AS (SELECT doc, w AS term, COUNT(*) AS tf
           FROM (SELECT doc, unnest(words) AS w FROM base) GROUP BY doc, w),
    dfq AS (SELECT term, COUNT(*) AS df
            FROM (SELECT doc, unnest(list_distinct(words)) AS term FROM base)
            GROUP BY term),
    scored AS (
      SELECT doc, term, tf,
             tf * CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)
               AS score_micro
      FROM tf JOIN dfq USING (term) CROSS JOIN nd)
    SELECT doc, term, CAST(tf AS BIGINT) AS tf, score_micro,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT doc, term, tf, score_micro,
                 ROW_NUMBER() OVER (PARTITION BY doc
                                    ORDER BY score_micro DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF (exact micro-nat
    scores, term-ascending tie-break) — keyword extraction over the
    documents table."""
    from ocr_spark.functions.curation import tfidf_topk

    return tfidf_topk(_cpu(spark, sf_dir, "documents"), "doc_id", "text", k=3)


@query(
    "budget_select",
    f"""
    WITH {_WORDS_CTE},
    docs AS (
      SELECT doc, CAST(len(words) AS BIGINT) AS n_tokens,
             CAST(floor(CAST(64 * len(list_distinct(words)) AS DOUBLE)
                        / len(words)) AS BIGINT) AS band
      FROM base WHERE len(words) > 0),
    bands AS (SELECT band, SUM(n_tokens) AS bt FROM docs GROUP BY band),
    ranked AS (
      SELECT band, bt,
             COALESCE(SUM(bt) OVER (ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM bands),
    rates AS (
      SELECT band,
             CASE WHEN cum_before + bt <= 12000 THEN CAST(1.0 AS DOUBLE)
                  WHEN cum_before < 12000
                    THEN ROUND(CAST(12000 - cum_before AS DOUBLE) / bt, 6)
                  ELSE CAST(0.0 AS DOUBLE) END AS rate
      FROM ranked)
    SELECT d.doc, d.band, d.n_tokens, r.rate,
           CAST(CASE WHEN ('0x' || substr(md5('budget:v1:' || CAST(d.doc AS VARCHAR)), 1, 8))::BIGINT
                          < CAST(round(r.rate * 4294967296) AS BIGINT)
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM docs d JOIN rates r USING (band)
    """,
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained best-first selection: documents banded by
    distinct-word ratio (64 bands), whole bands taken best-down under a
    12k-token budget, boundary band hash-filled at the residual rate —
    no global sort anywhere."""
    from ocr_spark.functions.curation import _doc_words, select_under_budget

    base = _doc_words(_cpu(spark, sf_dir, "documents"), "doc_id", "text")
    docs = base.filter(F.size("words") > 0).select(
        "doc",
        F.size("words").cast("bigint").alias("n_tokens"),
        F.floor(
            (F.lit(64) * F.size(F.array_distinct("words"))).cast("double")
            / F.size("words")
        ).cast("bigint").alias("band"),
    )
    return select_under_budget(docs, "doc", "n_tokens", "band", 12000)


@query(
    "temperature_sample",
    f"""
    WITH {_WORDS_CTE},
    docs AS (
      SELECT b.doc, CAST(len(b.words) AS BIGINT) AS n_tokens, d.lang AS stratum
      FROM base b JOIN documents d ON d.doc_id = b.doc),
    stats AS (SELECT stratum, SUM(n_tokens) AS ts FROM docs GROUP BY stratum),
    sw AS (SELECT stratum, ts,
                  CAST(round(sqrt(CAST(ts AS DOUBLE)) * 1000000) AS BIGINT) AS w
           FROM stats),
    tot AS (SELECT SUM(ts) AS t, SUM(w) AS sumw FROM sw),
    rated AS (
      SELECT stratum,
             (CAST(w AS DOUBLE) / sumw) * (CAST(t AS DOUBLE) / ts) AS ratio
      FROM sw CROSS JOIN tot),
    mx AS (SELECT MAX(ratio) AS maxr FROM rated),
    rates AS (
      SELECT stratum,
             ROUND(LEAST(CAST(1.0 AS DOUBLE), ratio / maxr), 6) AS rate
      FROM rated CROSS JOIN mx)
    SELECT d.doc, d.stratum, d.n_tokens, r.rate,
           CAST(CASE WHEN ('0x' || substr(md5('temp:v1:' || CAST(d.doc AS VARCHAR)), 1, 8))::BIGINT
                          < CAST(round(r.rate * 4294967296) AS BIGINT)
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM docs d JOIN rates r USING (stratum)
    """,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (alpha = 0.5) language rebalancing over the
    documents table: per-language keep rates from sqrt-token-mass target
    shares, applied as a deterministic hash draw per document."""
    from ocr_spark.functions.curation import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", "text")


@query(
    "chunk_documents",
    f"""
    WITH {_WORDS_CTE},
    w AS (SELECT doc, words FROM base WHERE len(words) > 0),
    c AS (
      SELECT doc,
             unnest(list_transform(
               generate_series(0,
                 CAST(1 + ceil(greatest(len(words) - 32, 0) / 24.0) AS INT) - 1),
               j -> struct_pack(
                 chunk_id := CAST(j AS BIGINT),
                 start_tok := CAST(j * 24 + 1 AS BIGINT),
                 n_tokens := CAST(least(32, len(words) - j * 24) AS BIGINT),
                 chunk_text := array_to_string(words[j*24+1 : j*24+32], ' ')))) AS u
      FROM w)
    SELECT doc, u.chunk_id AS chunk_id, u.start_tok AS start_tok,
           u.n_tokens AS n_tokens, u.chunk_text AS chunk_text
    FROM c
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token training windows (32-token chunks, 8-token
    overlap at this test scale): the context-window chunking step between
    curation and tokenization — a zero-shuffle projection + explode."""
    from ocr_spark.functions.curation import chunk_documents

    return chunk_documents(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=32, overlap=8)


@query(
    "length_percentiles",
    """
    WITH c AS (
      SELECT lang AS stratum, CAST(n_chars AS BIGINT) AS val, COUNT(*) AS c
      FROM documents GROUP BY lang, n_chars),
    r AS (
      SELECT stratum, val,
             SUM(c) OVER (PARTITION BY stratum ORDER BY val
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY stratum) AS n
      FROM c)
    SELECT stratum, CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN val END) AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN cum >= ceil(0.9 * n) THEN val END) AS BIGINT) AS p90,
           CAST(MIN(CASE WHEN cum >= ceil(0.99 * n) THEN val END) AS BIGINT) AS p99
    FROM r GROUP BY stratum
    """,
)
def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles (p50/p90/p99 of
    n_chars) via the value-histogram plan — the distinct-value window keeps
    exact percentiles tractable where a per-row stratum sort would not."""
    from ocr_spark.functions.curation import length_percentiles

    return length_percentiles(
        _t(spark, sf_dir, "documents"), "lang", "n_chars")


@query(
    "term_postings",
    f"""
    WITH {_WORDS_CTE},
    t AS (SELECT doc, unnest(list_distinct(words)) AS term FROM base),
    d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY term),
    r AS (SELECT term, doc,
                 ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc) AS rn
          FROM t),
    p AS (SELECT term, string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings
          FROM r WHERE rn <= 16 GROUP BY term)
    SELECT d.term, d.df, p.postings FROM d JOIN p USING (term)
    """,
)
def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index report: per term, document frequency and the 16
    smallest doc ids as a posting-list string."""
    from ocr_spark.functions.curation import build_postings

    return build_postings(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", max_postings=16)


_BM25_TERMS = ("spark", "window", "merge")


@query(
    "bm25_search",
    f"""
    WITH {_WORDS_CTE},
    docs AS (SELECT doc, CAST(len(words) AS BIGINT) AS dl FROM base),
    tot AS (SELECT COUNT(*) AS n,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM docs),
    flat AS (SELECT doc, w FROM (SELECT doc, unnest(words) AS w FROM base)
             WHERE w IN ('spark', 'window', 'merge')),
    tf AS (SELECT doc, w, COUNT(*) AS tf FROM flat GROUP BY doc, w),
    dfq AS (SELECT w, COUNT(*) AS dfq FROM tf GROUP BY w),
    s AS (
      SELECT doc, w,
             ln((n - dfq + CAST(0.5 AS DOUBLE)) / (dfq + CAST(0.5 AS DOUBLE))
                + CAST(1.0 AS DOUBLE))
             * (tf * CAST(2.2 AS DOUBLE))
             / (tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + (CAST(0.75 AS DOUBLE) * dl) / avgdl)) AS s
      FROM tf JOIN dfq USING (w) JOIN docs USING (doc) CROSS JOIN tot),
    p AS (SELECT doc,
                 MAX(CASE WHEN w = 'spark' THEN s END) AS s0,
                 MAX(CASE WHEN w = 'window' THEN s END) AS s1,
                 MAX(CASE WHEN w = 'merge' THEN s END) AS s2
          FROM s GROUP BY doc),
    r AS (SELECT doc,
                 ROUND(CAST(0.0 AS DOUBLE) + COALESCE(s0, 0) + COALESCE(s1, 0)
                       + COALESCE(s2, 0), 6) AS score
          FROM p)
    SELECT doc, score, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS BIGINT) AS rank
    FROM (SELECT * FROM r ORDER BY score DESC, doc LIMIT 20)
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query (spark, window, merge): exact
    integer stats in, fixed-order float combination out (round 6) — the
    retrieval consumer of the index layer."""
    from ocr_spark.functions.curation import bm25_topk

    return bm25_topk(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        terms=_BM25_TERMS, k=20)


@query(
    "vocab_topk",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cf,
                 CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
          FROM flat GROUP BY w),
    top AS (SELECT w, cf, df FROM v ORDER BY cf DESC, w LIMIT 100)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS BIGINT) AS rank,
           w, cf, df
    FROM top
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-100 terms by collection
    frequency (ties broken by term), with document frequency — the vocab
    report every tokenizer build starts from.

    Scale shape: the (word)-keyed agg has map-side partials, and the vocab
    table it produces is corpus-bounded (millions of terms, not documents),
    so the global orderBy+limit compiles to TakeOrdered — per-partition
    top-100s reduced on the driver, never a total sort. The rank window runs
    over the 100 surviving rows only."""
    base = _cpu(spark, sf_dir, "documents")
    words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    flat = base.select(F.col("doc_id").alias("doc"), F.explode(words).alias("w"))
    v = flat.groupBy("w").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc").alias("df"),
    )
    top = v.orderBy(F.col("cf").desc(), F.col("w")).limit(100)
    rank = F.row_number().over(
        Window.orderBy(F.col("cf").desc(), F.col("w"))).cast("bigint")
    return top.select(rank.alias("rank"), "w", "cf", "df")


@query(
    "domain_mix",
    f"""
    WITH {_WORDS_CTE},
    t AS (SELECT d.lang, d.source, b.doc, len(b.words) AS n_tok
          FROM base b JOIN documents d ON d.doc_id = b.doc),
    g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM t GROUP BY lang, source)
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share
    FROM g
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix report: documents and tokens per (lang, source) with each
    cell's share of corpus tokens — the table a data-mixture decision reads.
    One hash agg keyed on (lang, source); the share window runs over the
    aggregated cells (|langs| x |sources| rows), not the corpus."""
    base = _cpu(spark, sf_dir, "documents")
    words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    g = (
        base.select("lang", "source", F.size(words).alias("n_tok"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    share = F.round(
        F.col("n_tokens").cast("double")
        / F.sum("n_tokens").over(Window.partitionBy()), 6)
    return g.select("lang", "source", "n_docs", "n_tokens",
                    share.alias("token_share"))


@query(
    "decontaminate",
    f"""
    WITH {_WORDS_CTE},
    g AS (
      SELECT DISTINCT doc, gram FROM (
        SELECT doc,
               unnest(list_transform(generate_series(1, len(words) - 2),
                                     i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
        FROM base)),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc % 41 = 0),
    tr AS (SELECT doc, gram FROM g WHERE doc % 41 != 0),
    p AS (
      SELECT tr.doc, COUNT(*) AS n_grams,
             SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
      FROM tr LEFT JOIN ev USING (gram) GROUP BY tr.doc)
    SELECT b.doc, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / n_grams, 6) AS hit_frac,
           CAST(COALESCE(n_hits, 0) >= 2 AS INT) AS contaminated
    FROM (SELECT doc FROM base WHERE doc % 41 != 0) b LEFT JOIN p USING (doc)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every-41st document plays the eval set;
    training docs are flagged when >= 2 of their distinct trigrams appear in
    it (broadcast eval-gram dimension, per-doc exact hit counts)."""
    from ocr_spark.functions.curation import decontaminate

    docs = _cpu(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 41 != 0),
        "doc_id", "text",
        docs.filter(F.col("doc_id") % 41 == 0),
        n=3, min_hits=2,
    )


# Thresholds are rate * 2^32 as exact integers (see stratified_sample).
_STRAT_RATES = {"en": 0.25, "de": 0.75, "es": 0.75, "fr": 0.75}
_STRAT_CASES = " ".join(
    f"WHEN '{k}' THEN {int(round(r * (1 << 32)))}" for k, r in _STRAT_RATES.items()
)


@query(
    "curation_pass",
    f"""
    WITH {_WORDS_CTE},
    train AS (SELECT doc, words FROM base WHERE doc % 41 != 0),
    g3 AS (
      SELECT DISTINCT doc, gram FROM (
        SELECT doc,
               unnest(list_transform(generate_series(1, len(words) - 2),
                                     i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
        FROM base)),
    ev AS (SELECT DISTINCT gram FROM g3 WHERE doc % 41 = 0),
    cont AS (
      SELECT t.doc,
             CASE WHEN SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) >= 2
                  THEN 1 ELSE 0 END AS contaminated
      FROM (SELECT doc, gram FROM g3 WHERE doc % 41 != 0) t
      LEFT JOIN ev USING (gram) GROUP BY t.doc),
    uc AS (SELECT doc, w, COUNT(*) AS c
           FROM (SELECT doc, unnest(words) AS w FROM train) GROUP BY doc, w),
    mw AS (SELECT doc, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS mwf
           FROM uc GROUP BY doc),
    tc AS (SELECT doc, gram, COUNT(*) AS c FROM (
             SELECT doc,
                    unnest(list_transform(generate_series(1, len(words) - 2),
                                          i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
             FROM train) GROUP BY doc, gram),
    dt AS (SELECT doc,
                  ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                        / SUM(c), 6) AS dtf
           FROM tc GROUP BY doc),
    d AS (
      SELECT t.doc,
             COALESCE(mw.mwf > CAST(0.15 AS DOUBLE), FALSE)
               OR COALESCE(dt.dtf > CAST(0.02 AS DOUBLE), FALSE) AS repetitive,
             COALESCE(cont.contaminated, 0) AS contaminated,
             ('0x' || substr(md5('strat:v1:' || CAST(t.doc AS VARCHAR)), 1, 8))::BIGINT
               AS sample_hash,
             CASE doc.lang {_STRAT_CASES} ELSE {1 << 32} END AS thresh
      FROM (SELECT doc FROM train) t
      LEFT JOIN mw USING (doc) LEFT JOIN dt USING (doc) LEFT JOIN cont USING (doc)
      JOIN documents doc ON doc.doc_id = t.doc),
    r AS (
      SELECT doc,
             CASE WHEN repetitive THEN 'repetitive'
                  WHEN contaminated = 1 THEN 'contaminated'
                  WHEN sample_hash >= thresh THEN 'sampled_out'
                  ELSE 'keep' END AS reason
      FROM d)
    SELECT doc, reason, CAST(reason = 'keep' AS INT) AS keep FROM r
    """,
)
def q_curation_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retention decision (repetition filter -> benchmark
    decontamination -> stratified sampling) with first-match-wins reasons;
    every-41st document plays the eval set, as in `decontaminate`."""
    from ocr_spark.functions.curation import curation_pass

    docs = _cpu(spark, sf_dir, "documents")
    return curation_pass(
        docs.filter(F.col("doc_id") % 41 != 0),
        "doc_id", "text", "lang",
        docs.filter(F.col("doc_id") % 41 == 0),
        _STRAT_RATES,
    )


@query(
    "stratified_sample",
    f"""
    SELECT doc, stratum, sample_hash FROM (
      SELECT doc_id AS doc, lang AS stratum,
             ('0x' || substr(md5('strat:v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS sample_hash
      FROM documents)
    WHERE sample_hash < CASE stratum {_STRAT_CASES} ELSE {1 << 32} END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: downsample English to
    25%, mid-resource languages to 75%, keep the rest — reproducible across
    engines, retries, and partitionings (no RNG)."""
    from ocr_spark.functions.curation import stratified_sample

    return stratified_sample(
        _cpu(spark, sf_dir, "documents"), "doc_id", "lang", _STRAT_RATES)


def _l2_sql(a: str, b: str) -> str:
    return (f"ROUND(list_aggregate(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 6)")


def _cos_sql(a: str, b: str) -> str:
    dot = (f"list_aggregate(list_transform(list_zip({a}, {b}), "
           "q -> q[1]*q[2]), 'sum')")
    nrm = (f"(sqrt(list_aggregate(list_transform({a}, x -> x*x), 'sum')) * "
           f"sqrt(list_aggregate(list_transform({b}, x -> x*x), 'sum')))")
    return f"ROUND({dot} / {nrm}, 6)"


def _kmeans_assign_cte(n_centroids: int = 8, train_iters: int = 2) -> str:
    """CTE chain ``base`` -> ``cents`` -> ``assigned`` (nid, nvec, cell):
    unrolled fixed-iteration Lloyd's mirroring similarity.train_centroids
    + ivf_assign exactly — int64 fixed-point component sums (order-free),
    mean as the fixed expression round((sum / 2^30) / count, 6), empty
    cells keep the previous centroid. Shared by the ivf_topk and
    semantic_dedup oracles; cents{i} is the centroid table after
    iteration i."""
    fp = "CAST(1073741824.0 AS DOUBLE)"
    train = ""
    for i in range(1, train_iters + 1):
        prev = f"cents{i - 1}"
        train += f"""
    ad{i} AS (
      SELECT b.nid, b.nvec, c.cid, {_l2_sql("b.nvec", "c.cvec")} AS dist
      FROM base b CROSS JOIN {prev} c),
    asg{i} AS (
      SELECT nid, nvec, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY dist, cid) AS rk
        FROM ad{i}) WHERE rk = 1),
    compsrc{i} AS (
      SELECT cell, u.pos AS pos, CAST(round(u.v * {fp}) AS BIGINT) AS q
      FROM (SELECT cell,
                   unnest(list_transform(nvec, (v, i) -> {{'pos': i, 'v': v}})) AS u
            FROM asg{i})),
    comp{i} AS (
      SELECT cell, pos,
             ROUND((CAST(SUM(q) AS DOUBLE) / {fp}) / COUNT(*), 6) AS comp
      FROM compsrc{i} GROUP BY cell, pos),
    newc{i} AS (
      SELECT cell AS cid, list(comp ORDER BY pos) AS cvec
      FROM comp{i} GROUP BY cell),
    cents{i} AS (
      SELECT o.cid, COALESCE(n.cvec, o.cvec) AS cvec
      FROM {prev} o LEFT JOIN newc{i} n ON o.cid = n.cid),"""

    return f"""base AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings),
    cents0 AS (SELECT nid AS cid, nvec AS cvec FROM base WHERE nid < {n_centroids}),{train}
    cents AS (SELECT cid, cvec FROM cents{train_iters}),
    ad AS (
      SELECT b.nid, b.nvec, c.cid, {_l2_sql("b.nvec", "c.cvec")} AS dist
      FROM base b CROSS JOIN cents c),
    assigned AS (
      SELECT nid, nvec, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY dist, cid) AS rk
        FROM ad) WHERE rk = 1)"""


def _ivf_oracle(n_centroids: int = 8, n_queries: int = 10,
                nprobe: int = 2, k: int = 5, train_iters: int = 2) -> str:
    def l2 (a, b):
        return _l2_sql(a, b)

    dot = ("list_aggregate(list_transform(list_zip(p.qvec, a.nvec), "
           "q -> q[1]*q[2]), 'sum')")
    nrm = ("(sqrt(list_aggregate(list_transform(p.qvec, x -> x*x), 'sum')) * "
           "sqrt(list_aggregate(list_transform(a.nvec, x -> x*x), 'sum')))")

    return f"""
    WITH {_kmeans_assign_cte(n_centroids, train_iters)},
    queries AS (SELECT nid AS qid, nvec AS qvec FROM assigned WHERE nid < {n_queries}),
    qd AS (
      SELECT q.qid, q.qvec, c.cid, {l2("q.qvec", "c.cvec")} AS dist
      FROM queries q CROSS JOIN cents c),
    probes AS (
      SELECT qid, qvec, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rk
        FROM qd) WHERE rk <= {nprobe}),
    scored AS (
      SELECT p.qid, a.nid, ROUND({dot} / {nrm}, 6) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell AND a.nid != p.qid)
    SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      FROM scored)
    WHERE rk <= {k}
    """


@query(
    "semantic_dedup",
    f"""
    WITH {_kmeans_assign_cte(n_centroids=16)},
    drops AS (
      SELECT DISTINCT b.nid AS drop_id
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.nid < b.nid
      WHERE {_cos_sql("a.nvec", "b.nvec")} >= 0.3)
    SELECT s.nid, CAST(s.cell AS BIGINT) AS cell,
           CAST(CASE WHEN d.drop_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM assigned s LEFT JOIN drops d ON s.nid = d.drop_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-clustered embedding
    space (same trained quantizer as ivf_topk), exact cosine pairs within
    a cluster only, drop any vector near-duplicating a lower-id
    cluster-mate. Threshold 0.3 fits this synthetic embedding space (the
    real-world default is ~0.97); the operator's pairwise cost is
    per-cell-quadratic, never corpus-quadratic."""
    out = similarity.semantic_dedup(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_centroids=16, threshold=0.3)
    return out.select(F.col("nid"), "cell", "keep")


@query("ivf_topk", _ivf_oracle())
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means-trained coarse quantizer (2 deterministic Lloyd's
    iterations, int64 fixed-point sums so both engines derive bit-identical
    centroids), cell assignment via broadcast fan-out over K centroids,
    nprobe-cell probing, exact cosine only within probed cells — the
    inverted-file scale path next to the sign-LSH one. cosine_topk is the
    exact-recall baseline for the same queries."""
    out = similarity.ivf_topk(_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select("qid", "nid", "cos", F.col("rank").cast("bigint").alias("rank"))


# ===========================================================================
# Geometry / layout operators (SURVEY.md §2.3 J3, §2.4 A12-A14, §2.5 W3,
# region.py BoundingBox math) over deterministic synthetic boxes and points.
# ===========================================================================

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
    k = F.col("s_suppkey")
    points = _t(spark, sf_dir, "supplier").select(
        k.alias("word_id"),
        ((k * 13) % 540).cast("bigint").alias("cx"),
        ((k * 11) % 430).cast("bigint").alias("cy"),
        F.expr("CAST(s_suppkey AS BIGINT) div 25").alias("page"),
    )
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
    k = F.col("s_suppkey")
    p = _t(spark, sf_dir, "supplier").select(
        ((k * 13) % 540).cast("bigint").alias("cx"),
        ((k * 11) % 430).cast("bigint").alias("cy"),
        F.expr("CAST(s_suppkey AS BIGINT) div 25").alias("page"),
    )
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


# ===========================================================================
# Multimodal columns: binary payloads + typed metadata through mapInPandas
# (decode stage is a deterministic byte-derived stand-in; the Spark plumbing
# — schema, batching, flat-map frame sampling — is the production path).
# ===========================================================================

def _image_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary payload table derived from documents (no external
    data): payload = sha256 bytes of the text; small per-doc dimensions."""
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(F.sha2(F.col("text"), 256)).alias("payload"),
        (16 + F.col("doc_id") % 17).cast("int").alias("width"),
        (16 + F.col("doc_id") % 13).cast("int").alias("height"),
        F.lit("fake-rgb").alias("codec"),
    )


@query(
    "image_metadata",
    """
    SELECT doc_id, 'image' AS modality,
           CAST(16 + doc_id % 17 AS INTEGER) AS width,
           CAST(16 + doc_id % 13 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           'fake-rgb' AS codec
    FROM documents
    """,
)
def q_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction; payload bytes never leave the Arrow stage."""
    from ocr_spark.operators.multimodal import image_metadata

    return image_metadata(_image_payload_df(spark, sf_dir))


# The multimodal fake decode is closed-form over sha256 hex text (see
# operators/multimodal.py docstring), so DuckDB reproduces every value:
# seed byte m of doc = byte m of sha256(sha256(text)), pixel (y,x) channel c
# reads seed byte (3*(y*w+x)+c) % 32, and all float outputs are fixed final
# expressions over exact integer sums.

_HEXMAP_SQL = "SELECT lower(lpad(to_hex(v), 2, '0')) AS hh, v FROM range(0, 256) t(v)"
_CHAN_SQL = "SELECT 0 AS c, 299 AS coef UNION ALL SELECT 1, 587 UNION ALL SELECT 2, 114"
_IMG_SQL = """
  SELECT doc_id, sha256(sha256(text)) AS seedhex,
         16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
  FROM documents
"""

# Integer-milliluma pixels of a seedhex-tiled image; expects a CTE `img`
# with (doc_id, seedhex, w, h [, fi]).
def _pixel_sql(extra_key: str = "") -> str:
    key = f"{extra_key}, " if extra_key else ""
    return f"""
  SELECT i.doc_id, {key}i.w, i.h, gy.y, gx.x,
         CAST(SUM(ch.coef * hm.v) AS BIGINT) AS L
  FROM img i
  JOIN range(0, 32) gy(y) ON gy.y < i.h
  JOIN range(0, 32) gx(x) ON gx.x < i.w
  JOIN ({_CHAN_SQL}) ch ON true
  JOIN hexmap hm
    ON hm.hh = substr(i.seedhex, 2 * ((3 * (gy.y * i.w + gx.x) + ch.c) % 32) + 1, 2)
  GROUP BY i.doc_id, {key}i.w, i.h, gy.y, gx.x
"""


# 8x8 average-hash nibbles from pixel CTE `pxb` (cell-mean > global-mean as
# the exact integer comparison block_sum*n > total*block_size — the same
# definition as multimodal._phash8).
def _phash_sql(key: str) -> str:
    return f"""
stats AS (
  SELECT {key}, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(L) AS BIGINT) AS sl,
         CAST(SUM(L * L) AS BIGINT) AS sl2, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h
  FROM pxb GROUP BY {key}
),
cells AS (
  SELECT {key}, ((y + 1) * 8 + h - 1) // h - 1 AS ci, ((x + 1) * 8 + w - 1) // w - 1 AS cj,
         CAST(SUM(L) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pxb GROUP BY {key}, ci, cj
),
bits AS (
  SELECT c.*, c.ci * 8 + c.cj AS k,
         CASE WHEN c.s * st.n > st.sl * c.cnt THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN stats st USING ({key})
),
nibs AS (
  SELECT {key}, k // 4 AS m,
         CAST(SUM(bit * CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) AS INTEGER) AS d
  FROM bits GROUP BY {key}, m
),
ph AS (
  SELECT {key}, string_agg(substr('0123456789abcdef', d + 1, 1), '' ORDER BY m) AS phash
  FROM nibs GROUP BY {key}
)
"""


def _image_features_oracle() -> str:
    return f"""
    WITH hexmap AS ({_HEXMAP_SQL}),
    img AS ({_IMG_SQL}),
    pxb AS ({_pixel_sql()}),
    {_phash_sql("doc_id")},
    diffs AS (
      SELECT doc_id,
             ABS(L - LAG(L) OVER (PARTITION BY doc_id, y ORDER BY x)) AS dxv,
             ABS(L - LAG(L) OVER (PARTITION BY doc_id, x ORDER BY y)) AS dyv
      FROM pxb
    ),
    edge AS (
      SELECT doc_id, CAST(SUM(dxv) AS BIGINT) AS sdx, CAST(SUM(dyv) AS BIGINT) AS sdy
      FROM diffs GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.w AS INTEGER) AS width, CAST(s.h AS INTEGER) AS height,
           s.sl / s.n / CAST(1000 AS DOUBLE) AS mean_luma,
           sqrt(greatest(s.sl2 / s.n / CAST(1000000 AS DOUBLE)
                - (s.sl / s.n / CAST(1000 AS DOUBLE)) * (s.sl / s.n / CAST(1000 AS DOUBLE)),
                CAST(0 AS DOUBLE))) AS std_luma,
           e.sdx / (s.h * (s.w - 1)) / CAST(1000 AS DOUBLE)
             + e.sdy / ((s.h - 1) * s.w) / CAST(1000 AS DOUBLE) AS edge_energy,
           ph.phash
    FROM stats s JOIN edge e USING (doc_id) JOIN ph USING (doc_id)
    """


@query("image_features", _image_features_oracle())
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> luma stats + edge energy + 8x8 perceptual hash."""
    from ocr_spark.operators.multimodal import image_features

    return image_features(_image_payload_df(spark, sf_dir))


def _image_resize_oracle() -> str:
    return f"""
    WITH img AS ({_IMG_SQL}),
    outb AS (
      SELECT i.doc_id, oy.v AS oy, ox.v AS ox, ch.c AS c,
             substr(i.seedhex,
                    2 * ((3 * (((oy.v * i.h) // 8) * i.w + (ox.v * i.w) // 8) + ch.c) % 32) + 1,
                    2) AS pair
      FROM img i, range(0, 8) oy(v), range(0, 8) ox(v), ({_CHAN_SQL}) ch
    ),
    hx AS (
      SELECT doc_id, string_agg(pair, '' ORDER BY oy, ox, c) AS hexstr
      FROM outb GROUP BY doc_id
    )
    SELECT doc_id, CAST(8 AS INTEGER) AS out_width, CAST(8 AS INTEGER) AS out_height,
           CAST(192 AS INTEGER) AS out_bytes, substr(sha256(hexstr), 1, 16) AS checksum
    FROM hx
    """


@query("image_resize", _image_resize_oracle())
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize kernel; emits dimensions + checksum."""
    from ocr_spark.operators.multimodal import image_resize

    return image_resize(_image_payload_df(spark, sf_dir), 8, 8)


def _video_frame_oracle() -> str:
    # Frame fi's seed hashes payload.hex() || fi as 4 little-endian hex bytes
    # (fi < 256 here, so the suffix is lpad(hex(fi)) || '000000').
    return f"""
    WITH hexmap AS ({_HEXMAP_SQL}),
    img AS (
      SELECT doc_id,
             sha256(sha256(text) || lower(lpad(to_hex(f.v), 2, '0')) || '000000') AS seedhex,
             f.v AS fi, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
      FROM documents
      JOIN range(0, 24) f(v) ON f.v < 5 + doc_id % 20 AND f.v % 5 = 0
    ),
    pxb AS ({_pixel_sql("i.fi")}),
    {_phash_sql("doc_id, fi")}
    SELECT doc_id, CAST(fi AS INTEGER) AS frame_index, phash AS frame_phash
    FROM ph
    """


@query("video_frame_sample", _video_frame_oracle())
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-Nth-frame sampling (flat-map: >1 output row per video)."""
    from ocr_spark.operators.multimodal import video_frame_sample

    vids = _image_payload_df(spark, sf_dir).withColumns({
        "n_frames": (5 + F.col("doc_id") % 20).cast("int"),
        "codec": F.lit("fake-video"),
    })
    return video_frame_sample(vids, every_n=5)


def _audio_features_oracle() -> str:
    return f"""
    WITH hexmap AS ({_HEXMAP_SQL}),
    aud AS (
      SELECT doc_id, sha256(sha256(text)) AS seedhex, 1000 + doc_id % 3000 AS n
      FROM documents
    ),
    sv AS (
      SELECT a.doc_id, a.n, k.v AS k,
             CASE WHEN b0.v + 256 * b1.v >= 32768
                  THEN b0.v + 256 * b1.v - 65536
                  ELSE b0.v + 256 * b1.v END AS v
      FROM aud a
      JOIN range(0, 4000) k(v) ON k.v < a.n
      JOIN hexmap b0 ON b0.hh = substr(a.seedhex, 2 * ((2 * k.v) % 32) + 1, 2)
      JOIN hexmap b1 ON b1.hh = substr(a.seedhex, 2 * ((2 * k.v + 1) % 32) + 1, 2)
    ),
    svl AS (
      SELECT doc_id, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
      FROM sv
    ),
    zc AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN (v < 0) != (pv < 0) THEN 1 ELSE 0 END) AS INTEGER) AS zcnt
      FROM svl GROUP BY doc_id
    ),
    st AS (
      SELECT doc_id, CAST(ANY_VALUE(n) AS BIGINT) AS n, CAST(SUM(v * v) AS BIGINT) AS sv2,
             CAST(SUM(CASE WHEN ABS(v) >= 32767 THEN 1 ELSE 0 END) AS BIGINT) AS nclip
      FROM sv GROUP BY doc_id
    )
    SELECT st.doc_id, CAST(st.n AS INTEGER) AS n_samples,
           sqrt(st.sv2 / st.n) AS rms,
           zc.zcnt AS zero_crossings,
           st.nclip / st.n AS clip_ratio
    FROM st JOIN zc USING (doc_id)
    """


@query("audio_features", _audio_features_oracle())
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM decode -> RMS / zero-crossings / clip ratio."""
    from ocr_spark.operators.multimodal import audio_features

    aud = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(F.sha2(F.col("text"), 256)).alias("payload"),
        (1000 + F.col("doc_id") % 3000).cast("int").alias("n_samples"),
        F.lit("fake-pcm").alias("codec"),
    )
    return audio_features(aud)


# ===========================================================================
# Flagship: the full reference pipeline (classify -> extract -> score ->
# decide) over the synthetic corpus, exactly as `entry(spark)` runs it.
# ===========================================================================

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end document pipeline on the synth corpus (native Catalyst):
    the ``score_and_decide`` query."""
    return q_score_and_decide(spark, sf_dir)


# ===========================================================================
# Round-3 curation additions: domain-blocklist gate, mojibake repair.
# ===========================================================================

_BLOCKLIST_DOMAINS = [
    "track3.com", "example.org", "bad.co.in", "2001:db8::7", "site.io",
]

_BLOCKLIST_URL = (
    ["https://a.b.track", 7, ".com/x"],
    ["http://example.org/p"],
    ["HTTPS://CDN", 11, ".Example.ORG:8080/q"],
    ["http://notexample.org/r"],
    ["http://[2001:db8::", 9, "]/v"],
    ["https://ok", 13, ".net/"],
)
_BLOCKLIST_URL_SQL = _docs_sql(_BLOCKLIST_URL, "url")


@query(
    "blocklist_filter",
    f"""
    WITH u AS ({_BLOCKLIST_URL_SQL}),
    h AS (
      SELECT doc, lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host
      FROM u),
    bl(domain) AS (VALUES {", ".join(f"('{d}')" for d in _BLOCKLIST_DOMAINS)}),
    m AS (
      SELECT doc, host,
             (SELECT MIN(domain) FROM bl
              WHERE host = domain OR host LIKE ('%.' || domain)) AS matched_domain
      FROM h)
    SELECT doc, host,
           CAST(matched_domain IS NOT NULL AS INT) AS blocked,
           matched_domain
    FROM m
    """,
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate with parent-domain suffix semantics over
    deterministic synthetic urls: exact host hits, subdomain hits (incl.
    mixed case + port), the notexample.org suffix-boundary trap, and IPv6
    bracket-literal exact matches. The blocklist rides in as a DataFrame
    (the 100 TB-shape API — a broadcast dimension, not a literal)."""
    from ocr_spark.functions.curation import blocklist_filter

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _BLOCKLIST_URL).alias("url"))
    bl = spark.createDataFrame(
        [(d,) for d in _BLOCKLIST_DOMAINS], "domain string")
    return blocklist_filter(docs, "doc_id", "url", bl)


_MOJIBAKE_TEXT = (
    [_TEXT, " â€œMojibakeâ€¦ hereâ€™s â€“ a test"],
    ["CafÃ© â€” rÃ©sumÃ© naÃ¯ve? ", _TEXT],
    [_TEXT, " Â«TÂ° 25Â·5Â»"],
    [_TEXT],
)


def _mojibake_oracle() -> str:
    from ocr_spark.functions.curation import MOJIBAKE_MAP, MOJIBAKE_MARKERS

    fixed = "text"
    for bad, good in MOJIBAKE_MAP:
        fixed = f"replace({fixed}, '{bad}', '{good}')"

    def cnt(e: str) -> str:
        return (f"CAST(length({e}) - length(translate({e}, "
                f"'{MOJIBAKE_MARKERS}', '')) AS BIGINT)")

    return f"""
    WITH c AS (
      SELECT doc_id AS doc,
             {case_sql('doc_id', _MOJIBAKE_TEXT)} AS text
      FROM documents),
    f AS (SELECT doc, text, {fixed} AS fixed FROM c)
    SELECT doc, {cnt("text")} AS n_suspect, {cnt("fixed")} AS n_residual,
           fixed
    FROM f
    """


@query("fix_mojibake", _mojibake_oracle())
def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair over deterministically corrupted documents: every
    doc_id%4 class injects a different UTF-8-as-cp1252 artifact family
    (curly-quote/dash/ellipsis 3-byte forms; accented-Latin 2-byte forms
    including the deliberately-unmapped naÃ¯ve, which must survive into
    n_residual; Â-prefixed punctuation; and a clean control class)."""
    from ocr_spark.functions.curation import fix_mojibake

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _MOJIBAKE_TEXT).alias("text"))
    return fix_mojibake(docs, "doc_id", "text")


@query(
    "host_cap",
    f"""
    WITH u AS ({_URL_SQL}),
    h AS (
      SELECT u.doc_id AS doc,
             lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             CAST(d.n_chars AS BIGINT) AS quality
      FROM u JOIN documents d ON u.doc_id = d.doc_id),
    r AS (
      SELECT doc, host, quality,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY host ORDER BY quality DESC, doc ASC) AS BIGINT) AS rk
      FROM h)
    SELECT doc, host, quality, rk FROM r WHERE rk <= 3
    """,
)
def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host quota: keep the 3 longest documents per host over the
    url_host_stats synthetic urls. The Spark side runs the skew-safe
    two-stage cap; the oracle is the single-window twin, pinning the
    exactness of the shard-then-global decomposition."""
    from ocr_spark.functions.curation import host_cap

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _URL).alias("url"), "n_chars")
    return host_cap(docs, "doc_id", "url", F.col("n_chars"), k=3)


_NOINDEX_HTML = (
    ['<html><head><meta name="robots" content="noindex, '
     'nofollow"></head><body>', _TEXT],
    ['<HTML><META content="NOINDEX" name="ROBOTS"><body>', _TEXT],
    ['<html><meta name="robots" content="index, follow"><p>noindex in body '
     "text", _TEXT],
    ['<html><meta name="googlebot" content="noindex"><body>', _TEXT],
    ["<html><body>", _TEXT],
)
_NOINDEX_HTML_SQL = _docs_sql(_NOINDEX_HTML, "html")


@query(
    "noindex_filter",
    f"""
    WITH u AS ({_NOINDEX_HTML_SQL}),
    t AS (
      SELECT doc,
             regexp_extract(html,
               '(?i)<meta\\b[^>]*name\\s*=\\s*"(?:robots|googlebot)"[^>]*>', 0) AS tag
      FROM u)
    SELECT doc,
           CAST(regexp_matches(tag, '(?i)\\bnoindex\\b') AS INT) AS noindex,
           CAST(regexp_matches(tag, '(?i)\\bnofollow\\b') AS INT) AS nofollow
    FROM t
    """,
)
def q_noindex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-meta exclusion over deterministic synthetic html: directive
    in a robots tag (both attribute orders, any case), an agent-specific
    googlebot tag, an index,follow tag with 'noindex' only in body text
    (must NOT trigger), and a no-meta control."""
    from ocr_spark.functions.curation import noindex_filter

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _NOINDEX_HTML).alias("html"))
    return noindex_filter(docs, "doc_id", "html")


_ROBOTS_RULES = [
    # host, path_prefix, allow
    ("example.org", "/", 0),
    ("example.org", "/public", 1),
    ("example.org", "/public/private", 0),
    ("site.io", "/a", 1),
    ("site.io", "/a/b", 0),
    ("site.io", "/a/b/c", 1),
    ("tie.com", "/x", 0),
    ("tie.com", "/x", 1),
]

_ROBOTS_URL = (
    ["https://example.org/public/page", 5],
    ["https://example.org/public/private/x"],
    ["http://example.org/other"],
    ["https://SITE.io:8080/a/b/c", 3],
    ["http://site.io/a/q?y=1"],
    ["http://tie.com/x", 4],
    ["https://ok", 13, ".net"],
)
_ROBOTS_URL_SQL = _docs_sql(_ROBOTS_URL, "url")


@query(
    "robots_gate",
    f"""
    WITH u AS ({_ROBOTS_URL_SQL}),
    b AS (
      SELECT doc,
             lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             CASE WHEN regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)
             END AS path
      FROM u),
    r(host, prefix, allow) AS (VALUES
      {", ".join(f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES)}),
    c AS (
      SELECT b.doc, r.prefix, r.allow,
             ROW_NUMBER() OVER (
               PARTITION BY b.doc
               ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rn
      FROM b JOIN r ON b.host = r.host
      WHERE substr(b.path, 1, length(r.prefix)) = r.prefix),
    w AS (SELECT doc, prefix, allow FROM c WHERE rn = 1)
    SELECT b.doc, b.host, b.path,
           CAST(COALESCE(w.allow, 1) AS INT) AS allowed,
           w.prefix AS matched_prefix
    FROM b LEFT JOIN w USING (doc)
    """,
)
def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 longest-match robots gate over deterministic synthetic
    urls: nested allow/disallow prefixes both ways round (disallow-all +
    allow-subtree + disallow-sub-subtree), a query-string path, a mixed-case
    host with a port, an equal-length Allow/Disallow tie (Allow must win,
    RFC 9309 §2.2.2), and a no-rules host (default allowed). The parsed
    rules ride in as a DataFrame — the 100 TB-shape API, a broadcast
    dimension."""
    from ocr_spark.functions.curation import robots_gate

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _ROBOTS_URL).alias("url"))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string, allow int")
    return robots_gate(docs, "doc_id", "url", rules)


_REDIRECT_EDGE_SQL = """
    SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
           'u' || CAST(doc_id - 1 AS VARCHAR) AS dst
    FROM documents WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT 'u' || CAST(doc_id AS VARCHAR), 'u' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 100 = 0
"""


@query(
    "redirect_resolve",
    f"""
    WITH RECURSIVE edges AS ({_REDIRECT_EDGE_SQL}),
    e AS (SELECT src, MIN(dst) AS dst FROM edges GROUP BY src),
    walk(src, cur, n) AS (
      SELECT src, dst, 1 FROM e
      UNION
      SELECT w.src, e.dst, w.n + 1
      FROM walk w JOIN e ON w.cur = e.src
      WHERE w.n < 64),
    term AS (
      SELECT DISTINCT w.src, w.cur AS final
      FROM walk w LEFT JOIN e ON w.cur = e.src
      WHERE e.src IS NULL)
    SELECT e.src, term.final,
           CAST(term.src IS NOT NULL AS INT) AS resolved
    FROM e LEFT JOIN term ON e.src = term.src
    """,
)
def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling over a deterministic
    synthetic redirect graph: 9-hop chains down to multiple-of-10
    terminals, self-loop cycles at multiples of 100 (every chain feeding
    one must come back unresolved), and a recursive-CTE DuckDB twin whose
    64-step cap equals the Spark side's 2**6-hop doubling horizon."""
    from ocr_spark.functions.graph import resolve_redirects

    k = F.col("doc_id")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    docs = _cpu(spark, sf_dir, "documents").select("doc_id")
    chain = docs.where(k % 10 != 0).select(
        u(k).alias("src"), u(k - 1).alias("dst"))
    loops = docs.where(k % 100 == 0).select(
        u(k).alias("src"), u(k).alias("dst"))
    return resolve_redirects(chain.unionByName(loops), "src", "dst", rounds=6)


_ANCHOR_HTML = (
    ['<p><a href="https://t', 7, '.com/page">Anchor ', 3, "</a> mid <a "
     'class="x" href="https://hub.com/">Hub link</a></p>'],
    ['<a href="/local">Local</a> <a href="https://hub.com/">Hub ', 2, "</a>"],
    ["plain text, no links at all"],
    ['<a href="https://t', 7, '.com/page"></a>'],
)
_ANCHOR_HTML_SQL = _docs_sql(_ANCHOR_HTML, "html")


@query(
    "anchor_texts",
    f"""
    WITH u AS ({_ANCHOR_HTML_SQL}),
    tags AS (
      SELECT doc, unnest(regexp_extract_all(html,
               '<a\\s[^>]*href="[^"]*"[^>]*>[^<]*</a>')) AS tag
      FROM u),
    l0 AS (
      SELECT doc,
             regexp_extract(tag, 'href="([^"]*)"', 1) AS target,
             trim(regexp_extract(tag, '>([^<]*)</a>', 1)) AS anchor
      FROM tags),
    links AS (SELECT * FROM l0 WHERE regexp_matches(target, '^https?://')),
    pa AS (SELECT target, anchor, COUNT(*) AS cnt FROM links GROUP BY 1, 2),
    rk AS (
      SELECT target, anchor, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY target ORDER BY cnt DESC, anchor ASC) AS rk
      FROM pa),
    top AS (
      SELECT target,
             string_agg(anchor, '|' ORDER BY cnt DESC, anchor ASC) AS top_anchors
      FROM rk WHERE rk <= 3 GROUP BY target),
    st AS (
      SELECT target, CAST(COUNT(*) AS BIGINT) AS n_links,
             CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchor_texts
      FROM links GROUP BY target)
    SELECT st.target, st.n_links, st.n_docs, st.n_anchor_texts,
           COALESCE(top.top_anchors, '') AS top_anchors
    FROM st LEFT JOIN top USING (target)
    """,
)
def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target over deterministic synthetic
    html: multi-link pages, attribute-bearing tags, a relative href that
    must be skipped, link-free pages, and empty anchor texts; top-3 anchor
    phrasings per target with a count-desc-then-text tie-break that the
    oracle's window twin pins exactly."""
    from ocr_spark.functions.curation import anchor_texts

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _ANCHOR_HTML).alias("html"))
    return anchor_texts(docs, "doc_id", "html", top_k=3)


def _meta_paired_sql(tag: str, key_attr: str, key: str, val_attr: str) -> str:
    fwd = (f'(?i)<{tag}\\s[^>]*{key_attr}\\s*=\\s*"{key}"'
           f'[^>]*{val_attr}\\s*=\\s*"([^"]*)"')
    rev = (f'(?i)<{tag}\\s[^>]*{val_attr}\\s*=\\s*"([^"]*)"'
           f'[^>]*{key_attr}\\s*=\\s*"{key}"')
    return (f"CASE WHEN regexp_extract(html, '{fwd}', 1) != '' "
            f"THEN regexp_extract(html, '{fwd}', 1) "
            f"ELSE regexp_extract(html, '{rev}', 1) END")


_META_HTML = (
    ['<html lang="en"><head><meta charset="UTF-8"><title>  Page\n  ', 9, " "
     '</title><meta name="description" content="Desc ', 5, '"><meta '
     'property="og:title" content="OG ', 3, '"><link rel="canonical" '
     'href="https://c.com/p', 7, '"></head><body>x'],
    ['<HTML LANG="EN-us"><META charset=utf-8><META CONTENT="RevDesc ', 4,
     '" NAME="description"><LINK HREF="https://c.com/r" '
     'REL="canonical"><TITLE>Upper ', 2, "</TITLE>"],
    ["plain text, no head metadata at all ", _DOC_ID],
    ['<html><title></title><meta property="og:title" content="Only '
     'OG"><body>'],
    ['<html><meta name="keywords" content="not a description"><title>K ', 3,
     "</title>"],
    ['<html LANG="De"><meta charset="iso-8859-1"><title>T', 4, "</title>"],
)
_META_HTML_SQL = _docs_sql(_META_HTML, "html")


@query(
    "page_metadata",
    f"""
    WITH u AS ({_META_HTML_SQL})
    SELECT doc,
           trim(regexp_replace(regexp_extract(html,
             '(?i)<title[^>]*>([^<]*)</title>', 1), '\\s+', ' ', 'g')) AS title,
           {_meta_paired_sql('meta', 'name', 'description', 'content')} AS description,
           {_meta_paired_sql('meta', 'property', 'og:title', 'content')} AS og_title,
           {_meta_paired_sql('link', 'rel', 'canonical', 'href')} AS canonical,
           lower(regexp_extract(html,
             '(?i)<meta\\s[^>]*charset\\s*=\\s*"?([A-Za-z0-9_-]+)', 1)) AS charset,
           lower(regexp_extract(html,
             '(?i)<html\\s[^>]*lang\\s*=\\s*"([^"]*)"', 1)) AS lang
    FROM u
    """,
)
def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction over deterministic synthetic html: forward
    and reversed attribute orders, uppercase tags, unquoted charset, empty
    titles, multi-line titles needing whitespace collapse, pages with no
    metadata, and a keywords meta that must NOT match description."""
    from ocr_spark.functions.curation import page_metadata

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _META_HTML).alias("html"))
    return page_metadata(docs, "doc_id", "html")


_TABLE_HTML = (
    ['<table class="x"><tr><th>H1</th><th> H2 </th></tr><tr><td>a', 3,
     "</td><td><b>b", 5, "</b></td></tr></table>"],
    ["<TABLE><TR><TD>t1r1c1</TD></TR></TABLE> mid <table><tr><td>x", 2,
     "</td><td></td></tr></table>"],
    ["no tables here ", _DOC_ID],
    ["<table>\n<tr>\n<td> v ", 7, " </td></tr>\n</table>"],
)
_TABLE_HTML_SQL = _docs_sql(_TABLE_HTML, "html")


@query(
    "html_tables",
    f"""
    WITH u AS ({_TABLE_HTML_SQL}),
    t0 AS (SELECT doc, regexp_extract_all(html,
             '(?is)<table[^>]*>(.*?)</table>', 1) AS ts FROM u),
    t1 AS (SELECT doc, ts, unnest(generate_series(1, len(ts))) AS i FROM t0),
    t2 AS (SELECT doc, i - 1 AS tbl, ts[i] AS thtml FROM t1),
    r0 AS (SELECT doc, tbl, regexp_extract_all(thtml,
             '(?is)<tr[^>]*>(.*?)</tr>', 1) AS rs FROM t2),
    r1 AS (SELECT doc, tbl, rs, unnest(generate_series(1, len(rs))) AS j FROM r0),
    r2 AS (SELECT doc, tbl, j - 1 AS "row", rs[j] AS rhtml FROM r1),
    c0 AS (SELECT doc, tbl, "row", regexp_extract_all(rhtml,
             '(?is)<t[dh][^>]*>.*?</t[dh]>', 0) AS cs FROM r2),
    c1 AS (SELECT doc, tbl, "row", cs, unnest(generate_series(1, len(cs))) AS k FROM c0)
    SELECT doc, CAST(tbl AS BIGINT) AS tbl, CAST("row" AS BIGINT) AS "row",
           CAST(k - 1 AS BIGINT) AS col,
           CASE WHEN regexp_matches(cs[k], '(?i)^<th') THEN 1 ELSE 0 END AS is_header,
           trim(regexp_replace(cs[k], '<[^>]*>', '', 'g')) AS cell
    FROM c1
    """,
)
def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table flattening over deterministic synthetic html: header
    cells, inline markup to strip, two tables per page, uppercase tags,
    empty cells, multi-line tables, and table-free pages."""
    from ocr_spark.functions.curation import html_tables

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _TABLE_HTML).alias("html"))
    return html_tables(docs, "doc_id", "html")


_HOST_SQL = ("lower(regexp_replace(regexp_extract(url, "
             "'(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1), "
             "'^\\[|\\]$', '', 'g'))")

_TEMPLATE_URL = (["https://h", 5, ".com/p", _DOC_ID],)
_TEMPLATE_TEXT = (["Cookie banner h", 5, (["\nNAV Menu "], ["\n"]),
                   "\nbody text ", _DOC_ID,
                   (["\nFooter (c) site"], [""], [""])],)
_TEMPLATE_DOCS_SQL = f"""
    SELECT doc_id AS doc, {case_sql('doc_id', _TEMPLATE_URL)} AS url,
           {case_sql('doc_id', _TEMPLATE_TEXT)} AS text
    FROM documents
"""


@query(
    "host_template_lines",
    f"""
    WITH u AS ({_TEMPLATE_DOCS_SQL}),
    b AS (SELECT doc, {_HOST_SQL} AS host, text FROM u),
    ln AS (
      SELECT DISTINCT host, doc, lower(trim(line)) AS line
      FROM b, unnest(string_split(text, chr(10))) AS t(line)
      WHERE lower(trim(line)) != ''),
    lc AS (SELECT host, line, COUNT(*) AS n_docs_line FROM ln GROUP BY 1, 2),
    hc AS (SELECT host, COUNT(DISTINCT doc) AS n_docs_host FROM b GROUP BY 1)
    SELECT lc.host, lc.line,
           CAST(n_docs_line AS BIGINT) AS n_docs_line,
           CAST(n_docs_host AS BIGINT) AS n_docs_host,
           CAST(FLOOR(n_docs_line * 10000 / n_docs_host) AS BIGINT) AS frac_bp
    FROM lc JOIN hc USING (host)
    WHERE n_docs_line >= 2 AND n_docs_line * 10000 >= 5000 * n_docs_host
    """,
)
def q_host_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template detection over a synthetic 5-host corpus where
    every doc carries its host's cookie banner (100%), every second doc a
    nav menu (~50%, straddling the threshold), every third a footer
    (~33%, below), plus a unique body line (never a template)."""
    from ocr_spark.functions.curation import host_template_lines

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(k, _TEMPLATE_URL).alias("url"),
        case_col(k, _TEMPLATE_TEXT).alias("text"))
    return host_template_lines(docs, "doc_id", "url", "text")


_CONT_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000 AS doc_id,
           array_to_string(string_split_regex(trim(text), '\\s+')[
             1 : len(string_split_regex(trim(text), '\\s+')) // 2 + 2], ' ') AS text
    FROM documents WHERE doc_id % 9 = 0
"""


@query(
    "containment_pairs",
    f"""
    SELECT * FROM (
    WITH corpus AS ({_CONT_CORPUS_SQL}),
    pairs AS ({_lsh_pairs_sql('corpus')}),
    hs AS (
      SELECT s.doc, list_distinct(list_transform(
               s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
      FROM ({_shingle_sql('corpus')}) s)
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
           CAST(len(a.sh) AS BIGINT) AS size_a,
           CAST(len(b.sh) AS BIGINT) AS size_b,
           CAST(CASE WHEN len(a.sh) > 0
                THEN (10000 * len(list_intersect(a.sh, b.sh))) // len(a.sh)
                ELSE 0 END AS BIGINT) AS cont_a_bp,
           CAST(CASE WHEN len(b.sh) > 0
                THEN (10000 * len(list_intersect(a.sh, b.sh))) // len(b.sh)
                ELSE 0 END AS BIGINT) AS cont_b_bp
    FROM pairs p JOIN hs a ON a.doc = p.doc_a JOIN hs b ON b.doc = p.doc_b
    ) WHERE GREATEST(cont_a_bp, cont_b_bp) >= 8000
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over LSH candidates on a corpus augmented
    with half-length prefix fragments (doc_id+300000): the fragment side
    hits containment 10000 bp exactly (its shingle set is a subset) while
    pair Jaccard sits far lower — the case symmetric near-dup misses."""
    from ocr_spark.functions.dedup import containment_pairs

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    frag = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(trim(text), '\\\\s+'), 1, "
            "size(split(trim(text), '\\\\s+')) div 2 + 2), ' ')"
        ).alias("text"),
    )
    return containment_pairs(docs.unionByName(frag), "doc_id", "text")


_SPAN_TEXT = ([(["cookie notice applies here "], [""], [""]), _TEXT,
               ([" subscribe to our newsletter today"], [""], [""], [""])],)
_SPAN_CORPUS_SQL = _docs_sql(_SPAN_TEXT, "text")


@query(
    "dup_span_removal",
    f"""
    WITH u AS ({_SPAN_CORPUS_SQL}),
    base AS (
      SELECT doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS words
      FROM u),
    w AS (
      SELECT doc, i - 1 AS pos, words[i] AS word
      FROM (SELECT doc, words, unnest(generate_series(1, len(words))) AS i
            FROM base)),
    g AS (
      SELECT doc, i - 1 AS gpos,
             md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
      FROM (SELECT doc, words, unnest(generate_series(1, len(words) - 2)) AS i
            FROM base WHERE len(words) >= 3)),
    dup AS (
      SELECT h FROM (SELECT DISTINCT doc, h FROM g)
      GROUP BY h HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT doc, gpos + off AS pos
      FROM (SELECT g.doc, g.gpos FROM g JOIN dup USING (h)),
           unnest(generate_series(0, 2)) AS t(off)),
    kept AS (
      SELECT w.doc, w.pos, w.word FROM w
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc = w.doc AND cov.pos = w.pos)),
    reb AS (
      SELECT doc, COUNT(*) AS n_kept,
             string_agg(word, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc)
    SELECT base.doc, CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(words) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(clean_text, '') AS clean_text
    FROM base LEFT JOIN reb USING (doc)
    """,
)
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated 3-gram span removal over documents augmented with
    injected boilerplate (a cookie-notice prefix on every third doc, a
    newsletter tail on every fourth) — the injected spans and the corpus's
    own natural duplicate grams are removed; unique prose survives."""
    from ocr_spark.functions.curation import dup_span_removal

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _SPAN_TEXT).alias("text"))
    return dup_span_removal(docs, "doc_id", "text", n=3, min_docs=2)


@query(
    "image_phash_pairs",
    f"""
    SELECT * FROM (
    WITH hexmap AS ({_HEXMAP_SQL}),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
    img AS (
      SELECT doc_id, sha256(sha256(text)) AS seedhex,
             16 + (doc_id % 400000) % 17 AS w,
             16 + (doc_id % 400000) % 13 AS h
      FROM corpus),
    pxb AS ({_pixel_sql()}),
    {_phash_sql("doc_id")},
    b0 AS (SELECT doc_id AS doc, phash, unnest(range(0, 4)) AS band FROM ph),
    bb AS (SELECT doc, band, substr(phash, 1 + band * 4, 4) AS sigb FROM b0),
    bs AS (SELECT band, sigb FROM bb GROUP BY 1, 2
           HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
    capped AS (SELECT bb.* FROM bb JOIN bs USING (band, sigb)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
      FROM capped a JOIN capped b2
        ON a.band = b2.band AND a.sigb = b2.sigb AND a.doc < b2.doc),
    hs AS (SELECT doc_id AS doc,
                  ('0x' || substr(phash, 1, 8))::BIGINT AS hi,
                  ('0x' || substr(phash, 9, 8))::BIGINT AS lo FROM ph)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS hamming
    FROM cand JOIN hs a ON a.doc = cand.doc_a JOIN hs b ON b.doc = cand.doc_b
    ) WHERE hamming <= 3
    """,
)
def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image pairs: image_features' 64-bit phash fed
    into banded-Hamming pairing over a payload corpus with injected exact
    re-uploads (doc_id+400000, same bytes and dims) — re-uploads land at
    hamming 0; random 16-bit band collisions are rejected by the verify."""
    from ocr_spark.functions.dedup import fingerprint_hamming_pairs
    from ocr_spark.operators.multimodal import image_features

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 400000).alias("doc_id"), "text"))
    payload = corpus.select(
        "doc_id",
        F.unhex(F.sha2(F.col("text"), 256)).alias("payload"),
        (16 + (F.col("doc_id") % 400000) % 17).cast("int").alias("width"),
        (16 + (F.col("doc_id") % 400000) % 13).cast("int").alias("height"),
        F.lit("fake-rgb").alias("codec"),
    )
    feats = image_features(payload).select("doc_id", "phash")
    return fingerprint_hamming_pairs(feats, "doc_id", "phash")


_WARC_REQUEST = (
    ["WARC/1.0\nWARC-Type: request\n\nGET /p", _DOC_ID, "\n"], [""], [""])
_WARC_BLOB_SQL = f"""
    SELECT doc_id AS doc,
           'WARC/1.0' || chr(10) || 'WARC-Type: response' || chr(10) ||
           'WARC-Target-URI: https://h' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' || CAST(doc_id AS VARCHAR) || '/0' || chr(10) ||
           'WARC-Date: 2026-01-0' || CAST(1 + doc_id % 9 AS VARCHAR) || 'T00:00:00Z' || chr(10) || chr(10) ||
           'body ' || CAST(doc_id AS VARCHAR) || ' 0 ' || substr(text, 1, 40) || chr(10) ||
           'WARC/1.0' || chr(10) || 'WARC-Type: metadata' || chr(10) ||
           'WARC-Target-URI: https://h' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' || CAST(doc_id AS VARCHAR) || '/1' || chr(10) || chr(10) ||
           'len=' || CAST(length(text) AS VARCHAR) || chr(10) ||
           {case_sql('doc_id', _WARC_REQUEST)} AS blob
    FROM documents
"""


@query(
    "warc_split",
    f"""
    WITH u AS ({_WARC_BLOB_SQL}),
    s AS (SELECT doc, string_split(blob, 'WARC/1.0' || chr(10)) AS parts FROM u),
    e AS (SELECT doc, parts, unnest(generate_series(1, len(parts))) AS i FROM s),
    r AS (SELECT doc, i - 2 AS rec, parts[i] AS body0 FROM e
          WHERE length(trim(parts[i])) > 0)
    SELECT doc, CAST(rec AS BIGINT) AS rec,
           regexp_extract(body0, 'WARC-Type: ([^\n]*)', 1) AS warc_type,
           regexp_extract(body0, 'WARC-Target-URI: ([^\n]*)', 1) AS url,
           regexp_extract(body0, 'WARC-Date: ([^\n]*)', 1) AS ts,
           regexp_extract(body0, '(?s)\n\n(.*)$', 1) AS body
    FROM r
    """,
)
def q_warc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC blob flattening over deterministic synthetic archives: two or
    three records per blob (response + metadata, request on every third),
    a header absent from some records (WARC-Date), multi-line bodies."""
    from ocr_spark.sources.warc import warc_split

    k = F.col("doc_id")
    nl = F.lit("\n")
    host = F.concat(F.lit("https://h"), (k % 7).cast("string"),
                    F.lit(".com/p"), k.cast("string"))
    blob = F.concat(
        F.lit("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: "),
        host, F.lit("/0"), nl,
        F.lit("WARC-Date: 2026-01-0"), (1 + k % 9).cast("string"),
        F.lit("T00:00:00Z\n\nbody "), k.cast("string"), F.lit(" 0 "),
        F.substring("text", 1, 40), nl,
        F.lit("WARC/1.0\nWARC-Type: metadata\nWARC-Target-URI: "),
        host, F.lit("/1"), F.lit("\n\nlen="),
        F.length("text").cast("string"), nl,
        case_col(k, _WARC_REQUEST),
    )
    docs = _cpu(spark, sf_dir, "documents").select("doc_id", blob.alias("blob"))
    return warc_split(docs, "doc_id", "blob")


_HEADING_HTML = (
    ["<h1>Top ", 5, "</h1><p>x</p><h2> Sub <b>", 3, "</b> </h2><h3>deep</h3>"],
    ['<H2 class="t">Upper ', 2, "</H2>"],
    ["no headings ", _DOC_ID],
    ["<h1>Multi\nline ", 7, "</h1>"],
)
_HEADING_HTML_SQL = _docs_sql(_HEADING_HTML, "html")


@query(
    "html_headings",
    f"""
    WITH u AS ({_HEADING_HTML_SQL}),
    t0 AS (SELECT doc, regexp_extract_all(html,
             '(?is)<h([1-6])[^>]*>(.*?)</h[1-6]>', 0) AS hs FROM u),
    t1 AS (SELECT doc, hs, unnest(generate_series(1, len(hs))) AS i FROM t0)
    SELECT doc, CAST(i - 1 AS BIGINT) AS pos,
           CAST(regexp_extract(hs[i], '(?i)^<h([1-6])', 1) AS INTEGER) AS level,
           trim(regexp_replace(regexp_replace(hs[i], '<[^>]*>', '', 'g'),
                '\\s+', ' ', 'g')) AS heading
    FROM t1
    """,
)
def q_html_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outline extraction over deterministic synthetic html: h1-h3 chains,
    uppercase tags, inline markup inside headings, multi-line headings,
    and heading-free pages."""
    from ocr_spark.functions.curation import html_headings

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _HEADING_HTML).alias("html"))
    return html_headings(docs, "doc_id", "html")


_DEPTH_HTML = (
    ["<div><p>a<b>x", 3, '</b></p><img src="s"><p>b</p></div>'],
    ["<div><div><div>deep ", 3, "</div></div></div>"],
    ["plain ", _DOC_ID],
    ["<div><p>unclosed<br/>", 5],
)
_DEPTH_HTML_SQL = _docs_sql(_DEPTH_HTML, "html")

_NON_NESTING_SQL = ("(?i)^<(br|hr|img|meta|link|input|area|base|col|embed"
                    "|source|track|wbr)\\b|/>$")


@query(
    "html_depth_stats",
    f"""
    WITH u AS ({_DEPTH_HTML_SQL}),
    tg AS (SELECT doc, list_filter(
             regexp_extract_all(html, '(?s)</?[a-zA-Z][a-zA-Z0-9]*[^>]*>', 0),
             t -> NOT regexp_matches(t, '{_NON_NESTING_SQL}')) AS tags FROM u),
    e AS (SELECT doc, tags, unnest(generate_series(1, len(tags))) AS i FROM tg),
    d AS (SELECT doc, i,
            CASE WHEN starts_with(tags[i], '</') THEN -1 ELSE 1 END AS delta
          FROM e),
    r AS (SELECT doc, delta,
            SUM(delta) OVER (PARTITION BY doc ORDER BY i) AS depth FROM d),
    agg AS (SELECT doc, GREATEST(MAX(depth), 0) AS m, SUM(delta) AS bal
            FROM r GROUP BY doc)
    SELECT tg.doc, CAST(len(tags) AS BIGINT) AS n_tags,
           CAST(COALESCE(m, 0) AS BIGINT) AS max_depth,
           CAST(COALESCE(bal, 0) AS BIGINT) AS balance
    FROM tg LEFT JOIN agg USING (doc)
    """,
)
def q_html_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM nesting stats over deterministic synthetic html: void elements
    that must not nest, self-closing tags, an unbalanced page (truncation
    signal), triple nesting, and tag-free pages."""
    from ocr_spark.functions.curation import html_depth_stats

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _DEPTH_HTML).alias("html"))
    return html_depth_stats(docs, "doc_id", "html")


_CLEAN_PAGE = ["<html><body>clean page ", _DOC_ID]
_GATE_PAGE_URL = (
    ["https://example.org/other", 3],
    ["https://example.org/public/p", 4],
    ["https://ok", 13, ".net/a"],
    ["https://ok", 13, ".net/b"],
    ["http://tie.com/x", 4],
)
_GATE_PAGE_HTML = (
    _CLEAN_PAGE,
    _CLEAN_PAGE,
    ['<html><meta name="robots" content="noindex"><body>x'],
    _CLEAN_PAGE,
    ["<html><body>noindex appears only in body text"],
)
_GATE_PAGE_SQL = f"""
    SELECT doc_id AS doc, {case_sql('doc_id', _GATE_PAGE_URL)} AS url,
           {case_sql('doc_id', _GATE_PAGE_HTML)} AS html
    FROM documents
"""


@query(
    "crawl_gate",
    f"""
    WITH u AS ({_GATE_PAGE_SQL}),
    b AS (
      SELECT doc,
             lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             CASE WHEN regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)
             END AS path
      FROM u),
    r(host, prefix, allow) AS (VALUES
      {", ".join(f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES)}),
    c AS (
      SELECT b.doc, r.allow,
             ROW_NUMBER() OVER (
               PARTITION BY b.doc
               ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rn
      FROM b JOIN r ON b.host = r.host
      WHERE substr(b.path, 1, length(r.prefix)) = r.prefix),
    rob AS (
      SELECT b.doc, CAST(COALESCE(w.allow, 1) AS INT) AS allowed
      FROM b LEFT JOIN (SELECT doc, allow FROM c WHERE rn = 1) w USING (doc)),
    nx AS (
      SELECT doc,
             CAST(regexp_matches(regexp_extract(html,
               '(?i)<meta\\b[^>]*name\\s*=\\s*"(?:robots|googlebot)"[^>]*>', 0),
               '(?i)\\bnoindex\\b') AS INT) AS noindex
      FROM u),
    bl(domain) AS (VALUES {", ".join(f"('{d}')" for d in _BLOCKLIST_DOMAINS)}),
    blk AS (
      SELECT doc,
             CAST((SELECT MIN(domain) FROM bl
                   WHERE host = domain OR host LIKE ('%.' || domain))
                  IS NOT NULL AS INT) AS blocked
      FROM b),
    dec AS (
      SELECT rob.doc,
             CASE WHEN allowed = 0 THEN 'robots_disallow'
                  WHEN noindex = 1 THEN 'meta_noindex'
                  WHEN blocked = 1 THEN 'blocked_domain'
                  ELSE 'keep' END AS reason
      FROM rob JOIN nx USING (doc) JOIN blk USING (doc))
    SELECT doc, reason, CAST(reason = 'keep' AS INT) AS keep FROM dec
    """,
)
def q_crawl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed admission decision end-to-end over one synthetic page
    table: a robots-disallowed path on a blocklisted host (robots reason
    must win), a robots-ALLOWED path on that same blocklisted host
    (blocklist fires), a noindex page on a clean host, a clean keep, and
    a body-text 'noindex' that must NOT trigger."""
    from ocr_spark.functions.curation import crawl_gate

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(k, _GATE_PAGE_URL).alias("url"),
        case_col(k, _GATE_PAGE_HTML).alias("html"))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string, allow int")
    bl = spark.createDataFrame(
        [(d,) for d in _BLOCKLIST_DOMAINS], "domain string")
    return crawl_gate(docs, "doc_id", "url", "html", rules, bl)


_EXAMPLE_HOST = (["h", _DOC_ID, ".example"],)
_ROBOTS_BODY = (
    ["User-agent: *\nDisallow: /private\nAllow: /private/pub # comment\n\n"
     "User-agent: badbot\nDisallow: /"],
    ["User-agent: googlebot\nUser-agent: *\nDisallow: /tmp", 5],
    ["User-agent: badbot\nDisallow: /all"],
    ["Disallow: /orphan\nUser-agent: *\nDisallow:\nAllow: /a", 3],
)
_ROBOTS_BODY_SQL = f"""
    SELECT {case_sql('doc_id', _EXAMPLE_HOST)} AS host,
           {case_sql('doc_id', _ROBOTS_BODY)} AS body
    FROM documents
"""


@query(
    "parse_robots",
    f"""
    WITH u AS ({_ROBOTS_BODY_SQL}),
    l0 AS (
      SELECT host, i - 1 AS pos,
             trim(regexp_replace(parts[i], '#.*$', '')) AS line
      FROM (SELECT host, parts, unnest(generate_series(1, len(parts))) AS i
            FROM (SELECT host, string_split(body, chr(10)) AS parts FROM u))),
    g AS (
      SELECT host, pos, line,
             CASE WHEN starts_with(lower(line), 'user-agent:')
                  THEN 1 ELSE 0 END AS is_ua
      FROM l0),
    g1 AS (
      SELECT *, COALESCE(LAG(is_ua) OVER (PARTITION BY host ORDER BY pos), 0)
             AS prev_ua
      FROM g),
    g2 AS (
      SELECT *, SUM(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY host ORDER BY pos) AS grp
      FROM g1),
    star AS (
      SELECT DISTINCT host, grp FROM g2
      WHERE is_ua = 1 AND trim(substring(line, 12)) = '*'),
    r AS (
      SELECT host, grp,
             lower(regexp_extract(line, '^([A-Za-z-]+):', 1)) AS d,
             trim(regexp_extract(line, '^[A-Za-z-]+:(.*)$', 1)) AS p
      FROM g2 WHERE is_ua = 0)
    SELECT DISTINCT host, p AS path_prefix,
           CAST(d = 'allow' AS INT) AS allow
    FROM r JOIN star USING (host, grp)
    WHERE d IN ('allow', 'disallow') AND p != ''
    """,
)
def q_parse_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing over deterministic synthetic bodies: a star
    group followed by a bot-specific group (whose rules must NOT emit),
    consecutive User-agent lines sharing one group, a no-star file, an
    orphan rule before any group, an empty Disallow (allow-all idiom),
    and trailing comments."""
    from ocr_spark.functions.curation import parse_robots

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _EXAMPLE_HOST).alias("host"),
        case_col(k, _ROBOTS_BODY).alias("body"))
    return parse_robots(docs, "host", "body")


_EDIT_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 500000 AS doc_id, 'Z' || substring(text, 2) AS text
    FROM documents WHERE doc_id % 8 = 0
"""


@query(
    "edit_verify_pairs",
    f"""
    SELECT * FROM (
    WITH corpus AS ({_EDIT_CORPUS_SQL}),
    pairs AS ({_lsh_pairs_sql('corpus')}),
    t AS (SELECT doc_id AS doc, substring(text, 1, 4096) AS t FROM corpus),
    j AS (
      SELECT p.doc_a, p.doc_b,
             CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
             CAST(length(a.t) AS BIGINT) AS len_a,
             CAST(length(b.t) AS BIGINT) AS len_b
      FROM pairs p JOIN t a ON a.doc = p.doc_a JOIN t b ON b.doc = p.doc_b)
    SELECT doc_a, doc_b, lev, len_a, len_b,
           CAST(CASE WHEN GREATEST(len_a, len_b) > 0
                THEN 10000 - (10000 * lev) // GREATEST(len_a, len_b)
                ELSE 10000 END AS BIGINT) AS sim_bp
    FROM j
    ) WHERE sim_bp >= 8000
    """,
)
def q_edit_verify_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification over LSH candidates on a corpus with
    injected single-substitution typo variants (doc_id+500000): variants
    certify at sim_bp ~9990+, while candidate pairs that merely share
    shingle buckets without character-level closeness are rejected."""
    from ocr_spark.functions.dedup import edit_verify_pairs

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 8 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"))
    return edit_verify_pairs(docs.unionByName(variants), "doc_id", "text")


_TREND_SQL = """
    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
           (doc_id * doc_id) % 29 AS day,
           (doc_id * 37) % 101 AS q
    FROM documents
"""


@query(
    "host_quality_trend",
    f"""
    WITH u AS ({_TREND_SQL}),
    daily AS (
      SELECT host, CAST(day AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(q) AS BIGINT) AS sum_q
      FROM u GROUP BY host, day),
    win AS (
      SELECT host, day, n_docs, sum_q,
             SUM(sum_q) OVER (PARTITION BY host ORDER BY day
                              RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS wsum,
             SUM(n_docs) OVER (PARTITION BY host ORDER BY day
                               RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS wn
      FROM daily)
    SELECT host, day, n_docs,
           CAST((sum_q * 100) // n_docs AS BIGINT) AS mean_bp,
           CAST((wsum * 100) // wn AS BIGINT) AS ma_bp
    FROM win
    """,
)
def q_host_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware per-host quality trend over a quadratic-residue day grid
    (days (k*k) % 29 leave real gaps per host, exercising RANGE vs ROWS
    frame semantics) with deterministic 0-100 quality scores."""
    from ocr_spark.functions.curation import host_quality_trend

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (k % 7).cast("string"), F.lit(".com")).alias("host"),
        ((k * k) % 29).alias("day"),
        ((k * 37) % 101).alias("q"),
    )
    return host_quality_trend(docs, "host", "day", "q", window_days=3)


@query(
    "lineage_digest",
    """
    WITH u AS (
      SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' ||
             CAST(doc_id AS VARCHAR) AS url,
             text
      FROM documents),
    b AS (
      SELECT url, text,
             CAST(('0x' || substr(md5(url), 1, 15))::BIGINT % 16 AS BIGINT)
               AS bucket
      FROM u),
    h AS (SELECT bucket, url, sha256(COALESCE(text, '')) AS th FROM b)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS doc_count,
           MIN(url) AS url_min, MAX(url) AS url_max,
           sha256(string_agg(th, '' ORDER BY url)) AS content_sha256
    FROM h GROUP BY bucket
    """,
)
def q_lineage_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-partition lineage row the resume/audit layer commits
    (north rule: partition_id, url_range, doc_count, sha256 of url-ordered
    per-url text hashes), as a value-oracled query. The bucket here is
    md5-mod (cross-engine); production part_key is xxhash64
    (io/tableio.py:33) — the DIGEST formula is identical and shared
    (io/tableio.content_digest), so the oracle pins the audit semantics."""
    from ocr_spark.io.tableio import lineage_digest

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), (k % 7).cast("string"),
                 F.lit(".com/p"), k.cast("string")).alias("url"),
        "text",
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring(F.md5("url"), 1, 15), 16, 10)
            .cast("decimal(20,0)").cast("long"),
            F.lit(16),
        ).cast("bigint"),
    )
    return lineage_digest(docs, "url", "text", "bucket")


# The eval sample is ABSOLUTELY bounded (doc_id < 5000 on top of the
# rate predicates -> <= 1750 docs at any corpus size): a rate-only
# sample (% 5) grows with the corpus and turns the quadratic truth join
# into an engine wall — the sf1-equivalent sweep timed it out at 10x.
# At the driver scales (sf0.001-0.01, all doc_id < 5000) the cap is a
# no-op, so oracle values are unchanged there.
_RECALL_SAMPLE_SQL = """
    SELECT doc_id, text FROM documents
    WHERE doc_id % 5 = 0 AND doc_id < 5000
    UNION ALL
    SELECT doc_id + 600000 AS doc_id,
           text || ' trailing banner words here' AS text
    FROM documents WHERE doc_id % 10 = 0 AND doc_id < 5000
    UNION ALL
    SELECT doc_id + 700000 AS doc_id, text
    FROM documents WHERE doc_id % 20 = 0 AND doc_id < 5000
"""


@query(
    "lsh_recall_eval",
    f"""
    WITH sample AS ({_RECALL_SAMPLE_SQL}),
    hs AS (
      SELECT s.doc, list_distinct(list_transform(
               s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
      FROM ({_shingle_sql('sample')}) s),
    truth AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                  THEN (10000 * len(list_intersect(a.sh, b.sh)))
                       // len(list_distinct(a.sh || b.sh))
                  ELSE 0 END AS jacc_bp
      FROM hs a JOIN hs b ON a.doc < b.doc),
    t AS (SELECT * FROM truth WHERE jacc_bp >= 5000),
    cand AS (SELECT doc_a, doc_b, 1 AS caught FROM ({_lsh_pairs_sql('sample')})),
    j AS (
      SELECT CASE WHEN jacc_bp < 7000 THEN 'j50_70'
                  WHEN jacc_bp < 9000 THEN 'j70_90'
                  ELSE 'j90_100' END AS band,
             COALESCE(caught, 0) AS c
      FROM t LEFT JOIN cand USING (doc_a, doc_b))
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(c) AS BIGINT) AS n_caught,
           CAST((10000 * SUM(c)) // COUNT(*) AS BIGINT) AS recall_bp
    FROM j GROUP BY band
    """,
)
def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall calibration on a bounded sample (every fifth doc) salted
    with exact re-uploads (jaccard 10000) and banner-suffixed near-dups
    (the 70-100 band): per similarity band, ground-truth pair count vs
    pairs the production banding catches."""
    from ocr_spark.functions.dedup import lsh_recall_eval

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text") \
        .where(F.col("doc_id") < 5000)  # absolute cap, see _RECALL_SAMPLE_SQL
    sample = (
        docs.where(F.col("doc_id") % 5 == 0)
        .unionByName(docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 600000).alias("doc_id"),
            F.concat("text", F.lit(" trailing banner words here"))
            .alias("text")))
        .unionByName(docs.where(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id"), "text"))
    )
    return lsh_recall_eval(sample, "doc_id", "text")


_JSONLD_HTML = (
    ["<html><script "
     'type="application/ld+json">{"@type":"Article","headline":"H', 5,
     '","datePublished":"2026-01-0', ("mod", 9, 1), '","author":{"name":"A',
     3, '"}}</script><body>x'],
    ['<SCRIPT type="application/ld+json">{"headline":"Only ', 7,
     '"}</SCRIPT>'],
    ["<html><body>no structured data ", _DOC_ID],
    ['<script type="application/ld+json">{broken json ', _DOC_ID,
     "</script>"],
)
_JSONLD_HTML_SQL = _docs_sql(_JSONLD_HTML, "html")


@query(
    "jsonld_extract",
    f"""
    WITH u AS ({_JSONLD_HTML_SQL}),
    j AS (
      SELECT doc, regexp_extract(html,
               '(?is)<script[^>]*type="application/ld\\+json"[^>]*>(.*?)</script>',
               1) AS js
      FROM u)
    SELECT doc, CAST(js != '' AS INT) AS has_jsonld,
           COALESCE(CASE WHEN json_valid(js)
                    THEN json_extract_string(js, '$.headline') END, '')
             AS headline,
           COALESCE(CASE WHEN json_valid(js)
                    THEN json_extract_string(js, '$.datePublished') END, '')
             AS date_published,
           COALESCE(CASE WHEN json_valid(js)
                    THEN json_extract_string(js, '$.author.name') END, '')
             AS author_name
    FROM j
    """,
)
def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD extraction over deterministic synthetic html: a full
    article block with a nested author, a headline-only block in
    uppercase script tags, a block-free page, and malformed JSON that
    must degrade to '' fields instead of erroring."""
    from ocr_spark.functions.curation import jsonld_extract

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _JSONLD_HTML).alias("html"))
    return jsonld_extract(docs, "doc_id", "html")


_SNIFF_PAYLOAD_SQL = """
    SELECT doc_id AS doc,
           unhex(CASE doc_id % 6
             WHEN 0 THEN '255044462D312E37' || substr(sha256(text), 1, 16)
             WHEN 1 THEN '1F8B0800' || substr(sha256(text), 1, 16)
             WHEN 2 THEN '3C21646F63747970652068746D6C3E' || substr(sha256(text), 1, 16)
             WHEN 3 THEN '89504E470D0A1A0A' || substr(sha256(text), 1, 16)
             WHEN 4 THEN 'FFD8FFE0' || substr(sha256(text), 1, 16)
             ELSE substr(sha256(text), 1, 32)
           END) AS payload
    FROM documents
"""


@query(
    "mime_sniff",
    f"""
    WITH u AS ({_SNIFF_PAYLOAD_SQL}),
    h AS (SELECT doc, upper(hex(payload)) AS hx FROM u)
    SELECT doc,
           CASE WHEN starts_with(hx, '255044462D') THEN 'pdf'
                WHEN starts_with(hx, '1F8B') THEN 'gzip'
                WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'png'
                WHEN starts_with(hx, 'FFD8FF') THEN 'jpeg'
                WHEN starts_with(hx, '504B0304') THEN 'zip'
                WHEN starts_with(hx, '3C21444F4354595045') THEN 'html'
                WHEN starts_with(hx, '3C21646F6374797065') THEN 'html'
                WHEN starts_with(hx, '3C48544D4C') THEN 'html'
                WHEN starts_with(hx, '3C68746D6C') THEN 'html'
                ELSE 'unknown' END AS sniffed
    FROM h
    """,
)
def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type sniffing over deterministic binary payloads
    carrying real signatures (%PDF-, gzip, lowercase doctype, PNG, JPEG)
    plus unsigned bytes that must come back 'unknown'."""
    from ocr_spark.sources.sniff import mime_sniff

    k = F.col("doc_id")
    m = k % 6
    sh = F.substring(F.sha2("text", 256), 1, 16)
    hexpayload = (
        F.when(m == 0, F.concat(F.lit("255044462D312E37"), sh))
        .when(m == 1, F.concat(F.lit("1F8B0800"), sh))
        .when(m == 2, F.concat(
            F.lit("3C21646F63747970652068746D6C3E"), sh))
        .when(m == 3, F.concat(F.lit("89504E470D0A1A0A"), sh))
        .when(m == 4, F.concat(F.lit("FFD8FFE0"), sh))
        .otherwise(F.substring(F.sha2("text", 256), 1, 32))
    )
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(hexpayload).alias("payload"))
    return mime_sniff(docs, "doc_id", "payload")


_SITEMAP_XML = (
    ['<?xml version="1.0"?><urlset><url><loc>https://h', _DOC_ID,
     ".example/a</loc><lastmod>2026-01-0", ("mod", 9, 1),
     "</lastmod><priority>0.", 10, "</priority></url><url><loc>https://h",
     _DOC_ID, ".example/b</loc></url></urlset>"],
    ["<sitemapindex><sitemap><loc>https://h", _DOC_ID,
     ".example/s1.xml</loc><lastmod>2025-12-3", 2,
     "</lastmod></sitemap><sitemap><loc>https://h", _DOC_ID,
     ".example/s2.xml</loc></sitemap></sitemapindex>"],
    ["<URLSET><URL><LOC>  https://h", _DOC_ID,
     ".example/c  </LOC></URL><url><loc></loc></url></URLSET>"],
    ["<html>not a sitemap at all ", _DOC_ID, "</html>"],
)
_SITEMAP_XML_SQL = f"""
    SELECT {case_sql('doc_id', _EXAMPLE_HOST)} AS host,
           {case_sql('doc_id', _SITEMAP_XML)} AS xml
    FROM documents
"""


@query(
    "sitemap_parse",
    f"""
    WITH u AS ({_SITEMAP_XML_SQL}),
    k AS (
      SELECT host, xml,
             CASE WHEN regexp_matches(xml, '(?is)<\\s*sitemapindex[\\s>]')
                  THEN 'index' ELSE 'urlset' END AS kind
      FROM u),
    b AS (
      SELECT host, kind,
             CASE WHEN kind = 'index'
                  THEN regexp_extract_all(xml, '(?is)<sitemap>(.*?)</sitemap>', 1)
                  ELSE regexp_extract_all(xml, '(?is)<url>(.*?)</url>', 1)
             END AS blocks
      FROM k),
    e AS (
      SELECT host, kind, i - 1 AS pos, blocks[i] AS block
      FROM (SELECT host, kind, blocks,
                   unnest(generate_series(1, len(blocks))) AS i
            FROM b))
    SELECT host, pos, kind,
           regexp_extract(block, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
           regexp_extract(block, '(?is)<lastmod>\\s*(.*?)\\s*</lastmod>', 1) AS lastmod,
           regexp_extract(block, '(?is)<priority>\\s*(.*?)\\s*</priority>', 1) AS priority
    FROM e
    WHERE regexp_extract(block, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) != ''
    """,
)
def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-protocol parsing over deterministic synthetic XML: a
    urlset with full and minimal entries, a sitemapindex (kind='index'),
    an uppercase-tag + whitespace-padded loc + empty-loc file, and a
    non-sitemap page that must yield zero rows."""
    from ocr_spark.functions.curation import sitemap_parse

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _EXAMPLE_HOST).alias("host"),
        case_col(k, _SITEMAP_XML).alias("xml"))
    return sitemap_parse(docs, "host", "xml")


_NO_DECL = ["<html><body>no declaration ", _DOC_ID]
_CHARSET_HTML = (
    _NO_DECL,
    ['<html><meta charset="UTF-8"><body>bom beats me'],
    _NO_DECL,
    ['<html><meta charset="ISO-8859-1"><body>x'],
    ['<html><meta http-equiv="Content-Type" '
     'content="text/html; charset=utf8"><body>y'],
    _NO_DECL,
)
_CHARSET_PAYLOAD_SQL = f"""
    SELECT doc_id,
           unhex(CASE doc_id % 6
             WHEN 0 THEN 'EFBBBF' || substr(sha256(text), 1, 16)
             WHEN 1 THEN 'FFFE' || substr(sha256(text), 1, 16)
             WHEN 2 THEN 'FEFF' || substr(sha256(text), 1, 16)
             ELSE substr(sha256(text), 1, 32)
           END) AS payload,
           {case_sql('doc_id', _CHARSET_HTML)} AS html
    FROM documents
"""


@query(
    "charset_detect",
    f"""
    WITH u AS ({_CHARSET_PAYLOAD_SQL}),
    h AS (
      SELECT doc_id AS doc, upper(substr(hex(payload), 1, 6)) AS hx, html
      FROM u),
    s AS (
      SELECT doc,
             CASE WHEN starts_with(hx, 'EFBBBF') THEN 'utf-8'
                  WHEN starts_with(hx, 'FEFF') THEN 'utf-16be'
                  WHEN starts_with(hx, 'FFFE') THEN 'utf-16le'
                  ELSE '' END AS bom,
             lower(COALESCE(
               nullif(regexp_extract(html,
                 '(?is)<meta\\s[^>]*charset\\s*=\\s*"?([A-Za-z0-9_-]+)', 1), ''),
               nullif(regexp_extract(html,
                 '(?is)<meta\\s[^>]*content\\s*=\\s*"[^"]*charset=([A-Za-z0-9_-]+)', 1), ''),
               '')) AS rawdecl
      FROM h),
    n AS (
      SELECT doc, bom,
             CASE rawdecl
               WHEN 'utf8' THEN 'utf-8'
               WHEN 'iso-8859-1' THEN 'windows-1252'
               WHEN 'latin1' THEN 'windows-1252'
               WHEN 'latin-1' THEN 'windows-1252'
               WHEN 'us-ascii' THEN 'windows-1252'
               WHEN 'ascii' THEN 'windows-1252'
               WHEN 'cp1252' THEN 'windows-1252'
               ELSE rawdecl END AS declared
      FROM s)
    SELECT doc, bom, declared,
           COALESCE(nullif(bom, ''), nullif(declared, ''), 'utf-8') AS charset
    FROM n
    """,
)
def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHATWG-style charset sniff over deterministic payloads: UTF-8 /
    UTF-16LE / UTF-16BE BOMs (one overriding a conflicting declaration),
    a legacy ISO-8859-1 declaration that must normalize to windows-1252,
    an http-equiv declaration, and undeclared pages defaulting utf-8."""
    from ocr_spark.functions.curation import charset_detect

    k = F.col("doc_id")
    m = k % 6
    sh = F.substring(F.sha2("text", 256), 1, 16)
    hexpayload = (
        F.when(m == 0, F.concat(F.lit("EFBBBF"), sh))
        .when(m == 1, F.concat(F.lit("FFFE"), sh))
        .when(m == 2, F.concat(F.lit("FEFF"), sh))
        .otherwise(F.substring(F.sha2("text", 256), 1, 32))
    )
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(hexpayload).alias("payload"),
        case_col(k, _CHARSET_HTML).alias("html"))
    return charset_detect(docs, "doc_id", "payload", "html")


def _hits_oracle(n_iters: int = 2, scale: int = 10**6) -> str:
    """Unrolled DuckDB twin of functions/graph.hits (same integer
    max-normalization CASE, same iteration count)."""
    norm = (lambda x, m: f"(({x} // GREATEST({m} // {scale}, 1)) * {scale}) "
                         f"// ({m} // GREATEST({m} // {scale}, 1))")
    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    ar{i} AS (
      SELECT nd.node, COALESCE(s.v, 0) AS v
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(h.hub) AS v
        FROM h{i - 1} h JOIN e ON e.src = h.node GROUP BY e.dst) s
      USING (node)),
    am{i} AS (SELECT GREATEST(MAX(v), 1) AS m FROM ar{i}),
    a{i} AS (SELECT node, CAST({norm('v', 'm')} AS BIGINT) AS authority
             FROM ar{i} CROSS JOIN am{i}),
    hr{i} AS (
      SELECT nd.node, COALESCE(s.v, 0) AS v
      FROM nodes nd LEFT JOIN (
        SELECT e.src AS node, SUM(a.authority) AS v
        FROM a{i} a JOIN e ON e.dst = a.node GROUP BY e.src) s
      USING (node)),
    hm{i} AS (SELECT GREATEST(MAX(v), 1) AS m FROM hr{i}),
    h{i} AS (SELECT node, CAST({norm('v', 'm')} AS BIGINT) AS hub
             FROM hr{i} CROSS JOIN hm{i})"""
    return f"""
    WITH {_HOST_EDGES_SQL.strip()},
    h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM nodes){iters}
    SELECT h{n_iters}.node, h{n_iters}.hub, a{n_iters}.authority
    FROM h{n_iters} JOIN a{n_iters} USING (node)
    """


@query("host_hits", _hits_oracle())
def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer HITS (2 iterations, max-normalized to 1e6
    units) over the shared 100-host link graph — hubs and authorities as
    separate crawl-priority signals beside PageRank, with the DuckDB twin
    unrolling the identical integer passes."""
    from ocr_spark.functions.graph import hits

    return hits(_host_edges(spark, sf_dir), n_iters=2)


def _dot_sql(expr: str, depth: int = 8) -> str:
    """DuckDB twin of curation._remove_dot_segments: the identical
    global-replace step list applied the identical number of times."""
    steps = [(r"/\.(/|$)", "/"), (r"/[^/]+/\.\.(/|$)", "/"),
             (r"^/\.\.(/|$)", "/")]
    for _ in range(depth):
        for pat, rep in steps:
            expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return expr


_RESOLVE_DEEP = ["https://h", 7, ".example/a/b/c.html?old=1#frag"]
_RESOLVE_BASE = (_RESOLVE_DEEP,) * 5 + (
    ["https://h", 7, ".example"], _RESOLVE_DEEP, ["garbage-not-a-url"])
_RESOLVE_REF = (
    ["https://other.org/abs#x"],
    ["//cdn", 3, ".example/lib.js"],
    ["/root/../img", 4, ".png"],
    ["#section"],
    ["?q=", 9],
    ["sub/page", 5, ".html"],
    ["../up/./x", 6, ".html"],
    ["x/y.html"],
)


def _resolve_oracle() -> str:
    path_part = _dot_sql("regexp_extract(s, '^([^?]*)', 1)")
    pq = path_part + " || regexp_extract(s, '(\\?.*)$', 1)"
    path_query_ref = pq.replace("(s, ", "(ref, ").replace("(s,", "(ref,")
    path_query_merged = pq.replace("(s, ", "(base_dir || ref, ")
    return f"""
    WITH raw AS (
      SELECT {case_sql('doc_id', _RESOLVE_BASE)} AS base0,
             {case_sql('doc_id', _RESOLVE_REF)} AS ref0
      FROM documents),
    c AS (
      SELECT base0 AS base_out, ref0 AS ref_out,
             regexp_extract(base0, '^([^#]*)', 1) AS base,
             regexp_extract(ref0, '^([^#]*)', 1) AS ref
      FROM raw),
    d AS (
      SELECT *,
             regexp_extract(base, '(?i)^([a-z][a-z0-9+.-]*):', 1) AS scheme,
             regexp_extract(base, '(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) AS authroot,
             CASE WHEN regexp_extract(base, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                  THEN '/' ELSE regexp_extract(base, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
             END AS base_path
      FROM c),
    e AS (
      SELECT *,
             CASE WHEN regexp_replace(base_path, '[^/]*$', '') = ''
                  THEN '/' ELSE regexp_replace(base_path, '[^/]*$', '')
             END AS base_dir
      FROM d)
    SELECT base_out AS base, ref_out AS ref,
           CASE WHEN authroot = '' THEN
             CASE WHEN regexp_matches(ref, '(?i)^[a-z][a-z0-9+.-]*:')
                  THEN ref ELSE '' END
           ELSE
             CASE WHEN regexp_matches(ref, '(?i)^[a-z][a-z0-9+.-]*:') THEN ref
                  WHEN starts_with(ref, '//') THEN scheme || ':' || ref
                  WHEN starts_with(ref, '/') THEN authroot || {path_query_ref}
                  WHEN ref = '' THEN base
                  WHEN starts_with(ref, '?') THEN authroot || base_path || ref
                  ELSE authroot || {path_query_merged}
             END
           END AS resolved
    FROM e
    """


@query("resolve_urls", _resolve_oracle())
def q_resolve_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 reference resolution over deterministic base/ref pairs
    covering every branch: absolute, protocol-relative, root-relative
    with dot segments, empty/fragment-only, query-only, directory merge,
    '../' climbing, an authority-less base, and fragment stripping."""
    from ocr_spark.functions.curation import resolve_urls

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _RESOLVE_BASE).alias("base0"),
        case_col(k, _RESOLVE_REF).alias("ref0"))
    return resolve_urls(docs, "base0", "ref0")


@query(
    "logreg_calibration",
    f"""
    WITH lr_out AS ({{LOGREG}}),
    b AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             CAST(ROUND(score * 1000000) AS BIGINT) AS sm,
             label,
             CASE WHEN pred THEN 1 ELSE 0 END AS pr
      FROM lr_out)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sm) AS BIGINT) AS sum_score_micro,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(SUM(pr) AS BIGINT) AS n_pred_pos
    FROM b GROUP BY bin
    """.replace("{LOGREG}", _logreg_oracle_sql()),
)
def q_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins over the trained quality classifier:
    decile-binned predicted probability vs observed positive rate, as
    exact integers (doc count, micro-score sum, positive count) so the
    cross-engine hash is stable — the calibration check an ML-ops layer
    runs before trusting a quality filter's threshold. One hash agg over
    the classifier's scoring pass; the training sub-plan is shared."""
    lr_out = q_logreg_quality(spark, sf_dir)
    sm = F.round(F.col("score") * 1000000).cast("bigint")
    return (
        lr_out.select(
            F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9))
            .alias("bin"),
            sm.alias("sm"),
            "label",
            F.col("pred").cast("int").alias("pr"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("sm").alias("sum_score_micro"),
            F.sum("label").alias("n_pos"),
            F.sum("pr").cast("bigint").alias("n_pred_pos"),
        )
    )


def _sig_sql(src: str) -> str:
    """Banded minhash signatures of a CTE (the minhash oracle core,
    parameterized by source)."""
    return f"""
      SELECT doc, band,
             list_aggregate(list_transform(shingles, s -> md5(band || '|' || s)), 'min') AS signature
      FROM (SELECT doc, shingles, unnest(range(0, 4)) AS band
            FROM ({_shingle_sql(src)}) sh0)
      WHERE len(shingles) > 0"""


@query(
    "dedup_incremental",
    f"""
    WITH nxt AS (
      SELECT a.doc_id, COALESCE(b.text, a.text) AS ntext
      FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id + 1),
    newb AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 6 = 0 THEN n.ntext ELSE d.text END AS text
      FROM documents d JOIN nxt n USING (doc_id)
      WHERE d.doc_id % 3 = 0),
    oldb AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
    sign AS ({_sig_sql('newb')}),
    sigo AS ({_sig_sql('oldb')}),
    idx AS (SELECT band, signature, COUNT(DISTINCT doc) AS n_idx
            FROM sigo GROUP BY band, signature),
    hits AS (SELECT s.doc, COUNT(*) AS h, SUM(i.n_idx) AS nd
             FROM sign s JOIN idx i USING (band, signature) GROUP BY s.doc)
    SELECT n.doc_id AS doc,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS n_bands_hit,
           CAST(COALESCE(h.nd, 0) AS BIGINT) AS n_index_docs,
           CASE WHEN h.doc IS NOT NULL THEN 'drop' ELSE 'keep' END AS action
    FROM newb n LEFT JOIN hits h ON h.doc = n.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-index dedup: the new batch (every third doc,
    half of them carrying a retained doc's exact text) admitted against
    the retained corpus's band-signature index — copies drop with the
    full 4-band hit trail, fresh text keeps."""
    from ocr_spark.functions.dedup import dedup_vs_index

    d = _cpu(spark, sf_dir, "documents")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"),
                   F.col("text").alias("ntext"))
    new = (
        d.join(nxt, "doc_id", "left")
        .where(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 6 == 0,
                   F.coalesce("ntext", "text"))
            .otherwise(F.col("text")).alias("text"),
        )
    )
    old = d.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    return dedup_vs_index(new, old, "doc_id", "text")


@query(
    "exact_k_sample",
    """
    WITH s AS (
      SELECT doc_id AS doc, lang AS stratum,
             ('0x' || substr(md5('ks' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents),
    n AS (SELECT stratum, COUNT(*) AS n FROM s GROUP BY stratum),
    pre AS (
      SELECT s.stratum, s.doc, s.h
      FROM s JOIN n USING (stratum)
      WHERE CAST(h AS HUGEINT) * n < CAST(2305843009213693952 AS HUGEINT) * 25
         OR h < 18014398509481984),
    r AS (
      SELECT stratum, doc,
             ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h, doc) AS rk
      FROM pre)
    SELECT stratum, doc, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 25
    """,
)
def q_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-25-per-language deterministic sample over documents: hash
    pre-filter bounds the rank window's input, integer cross-multiplied
    thresholds keep both engines bit-identical."""
    from ocr_spark.functions.curation import exact_k_sample

    return exact_k_sample(
        _cpu(spark, sf_dir, "documents"), "doc_id", "lang", k=25)


# ===========================================================================
# Round-3 batch: collocation mining, mirror-host detection, recrawl change
# rate, leakage-safe corpus splits — the crawl-analytics layer a web-scale
# training-data pipeline runs between extraction and packing.
# ===========================================================================

@query(
    "pmi_collocations",
    f"""
    WITH {_WORDS_CTE},
    biu AS (
      SELECT unnest([{{'w1': words[i], 'w2': words[i + 1]}}
                     for i in range(1, len(words))]) AS bi
      FROM base),
    bi0 AS (SELECT bi.w1 AS w1, bi.w2 AS w2 FROM biu),
    b AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
          FROM bi0 GROUP BY w1, w2),
    m1 AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_w1 FROM b GROUP BY w1),
    m2 AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_w2 FROM b GROUP BY w2),
    t AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM b),
    j AS (
      SELECT w1, w2, c_xy,
             CAST(c_xy * n_bi AS BIGINT) AS lift_num,
             CAST(c_w1 * c_w2 AS BIGINT) AS lift_den
      FROM b JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN t
      WHERE c_xy >= 3)
    SELECT w1, w2, c_xy, lift_num, lift_den,
           CAST(ROW_NUMBER() OVER (ORDER BY c_xy DESC, w1, w2) AS BIGINT) AS rank
    FROM (SELECT * FROM j ORDER BY c_xy DESC, w1, w2 LIMIT 50)
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 corpus bigrams (frequency >= 3) with
    exact-integer PMI components. ``lift_num / lift_den`` is the
    positional-marginal lift P(w1,w2) / (P(w1,.) P(.,w2)); the consumer
    takes ``ln(lift_num / lift_den)`` for PMI — emitted as two exact
    integers (not a rounded float) so the oracle compare is bit-stable,
    per the repo's kl/entropy precedent.

    Scale shape: bigrams come from a zip_with over the in-row word array
    (no self-join, no positional shuffle); the (w1,w2)-keyed count has
    map-side partials; the two marginals re-aggregate the vocab-bounded
    bigram table, not the corpus; the final order+limit compiles to
    TakeOrdered. At 10^12 documents lift_num = c_xy * n_bi outruns int64 —
    widen both products to decimal(38,0) there (one-line cast); at test
    scale int64 is exact and cheaper."""
    base = _cpu(spark, sf_dir, "documents")
    words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    flat = (
        base.select(words.alias("w"))
        .select(
            F.explode(
                F.zip_with(
                    F.expr("slice(w, 1, greatest(size(w) - 1, 0))"),
                    F.expr("slice(w, 2, greatest(size(w) - 1, 0))"),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bi")
        )
        .select("bi.w1", "bi.w2")
    )
    b = flat.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    m1 = b.groupBy("w1").agg(F.sum("c_xy").alias("c_w1"))
    m2 = b.groupBy("w2").agg(F.sum("c_xy").alias("c_w2"))
    t = b.agg(F.sum("c_xy").alias("n_bi"))
    j = (
        b.join(m1, "w1").join(m2, "w2").crossJoin(F.broadcast(t))
        .filter(F.col("c_xy") >= 3)
        .select(
            "w1", "w2", "c_xy",
            (F.col("c_xy") * F.col("n_bi")).alias("lift_num"),
            (F.col("c_w1") * F.col("c_w2")).alias("lift_den"),
        )
    )
    top = j.orderBy(F.desc("c_xy"), "w1", "w2").limit(50)
    w = Window.orderBy(F.desc("c_xy"), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


_MIRROR_CTE = """
    md0 AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
      FROM documents
      WHERE length(trim(text)) > 0),
    md AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS host, fp FROM md0
      UNION ALL
      SELECT 'm' || CAST(doc_id % 5 AS VARCHAR) AS host, fp
      FROM md0 WHERE doc_id % 3 = 0)
"""


@query(
    "mirror_hosts",
    f"""
    WITH {_MIRROR_CTE},
    hf AS (SELECT DISTINCT host, fp FROM md),
    n AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fp FROM hf GROUP BY host),
    p AS (
      SELECT a.host AS host_a, b.host AS host_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM hf a JOIN hf b ON a.fp = b.fp AND a.host < b.host
      GROUP BY a.host, b.host
      HAVING COUNT(*) >= 2)
    SELECT host_a, host_b, shared,
           na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b
    FROM p JOIN n na ON p.host_a = na.host
           JOIN n nb ON p.host_b = nb.host
    """,
)
def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection: host pairs sharing >= 2 canonicalized content
    fingerprints, with each side's distinct-fingerprint count so the
    consumer can form the overlap coefficient shared/min(n_a,n_b) exactly.
    The crawl fixture serves every doc from its primary host (doc_id%40)
    and every third doc ALSO from a mirror host (m<doc_id%5>) — the union
    models the same page crawled at two addresses, which is exactly what a
    mirror is; fingerprints are the same case/punct/ws-insensitive md5 as
    ``doc_fingerprint``.

    Scale shape: the pair generator is one equi-join keyed on fingerprint —
    candidate pairs are quadratic only in the per-fingerprint host count
    (a duplicate cluster's mirror fan-out, bounded in practice; the same
    oversize-cap-with-observability treatment as lsh_candidate_pairs
    applies if a degenerate fingerprint appears). The host-level agg and
    both count joins are host-cardinality-bounded, never doc-bounded."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+", " ",
        )
    )
    md0 = (
        _cpu(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.md5(canon).alias("fp"))
    )
    md = md0.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        "fp",
    ).unionByName(
        md0.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.lit("m"), (F.col("doc_id") % 5).cast("string")).alias("host"),
            "fp",
        )
    )
    hf = md.distinct()
    n = hf.groupBy("host").agg(F.count(F.lit(1)).alias("n_fp"))
    a = hf.select(F.col("host").alias("host_a"), "fp")
    b = hf.select(F.col("host").alias("host_b"), "fp")
    p = (
        a.join(b, "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
    )
    return (
        p.join(n.select(F.col("host").alias("host_a"), F.col("n_fp").alias("n_fp_a")), "host_a")
        .join(n.select(F.col("host").alias("host_b"), F.col("n_fp").alias("n_fp_b")), "host_b")
        .select("host_a", "host_b", "shared", "n_fp_a", "n_fp_b")
    )


@query(
    "recrawl_deltas",
    """
    WITH v AS (
      SELECT 'u' || CAST(doc_id % 97 AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) AS ts,
             CAST((doc_id // 97) // ((doc_id % 97) % 3 + 1) AS BIGINT) AS rev
      FROM documents),
    d AS (
      SELECT url, ts, rev,
             LAG(rev) OVER (PARTITION BY url ORDER BY ts) AS prev_rev
      FROM v)
    SELECT url,
           CAST(COUNT(*) AS BIGINT) AS n_visits,
           CAST(SUM(CASE WHEN prev_rev IS NOT NULL AND rev <> prev_rev
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM d GROUP BY url
    """,
)
def q_recrawl_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change-rate: per url, how many of its successive crawl
    snapshots changed content revision — the signal a crawl scheduler uses
    to set per-url revisit frequency. Snapshots are the deterministic
    fixture (url = doc_id%97, visit time = doc_id, revision advances every
    url-dependent k visits, k in 1..3, so change rates genuinely differ).

    Scale shape: one shuffle on url for the lag window, then the same
    partitioning feeds the per-url agg (no second exchange); all counters
    are exact integers. At 10^12 rows the url key is high-cardinality and
    unskewed (bounded snapshots per url), the shape AQE handles without
    salting."""
    v = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), (F.col("doc_id") % 97).cast("string")).alias("url"),
        F.col("doc_id").cast("bigint").alias("ts"),
        F.expr(
            "CAST((doc_id DIV 97) DIV ((doc_id % 97) % 3 + 1) AS BIGINT)"
        ).alias("rev"),
    )
    w = Window.partitionBy("url").orderBy("ts")
    d = v.withColumn("prev_rev", F.lag("rev").over(w))
    return d.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.sum(
            F.when(
                F.col("prev_rev").isNotNull() & (F.col("rev") != F.col("prev_rev")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_changes"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "leakage_split",
    """
    WITH d AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 40 AS VARCHAR) AS host,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens
      FROM documents),
    s AS (
      SELECT host, n_tokens,
             CASE WHEN ('0x' || substr(md5(host), 1, 15))::BIGINT % 10 < 8
                  THEN 'train' ELSE 'val' END AS split,
             CASE WHEN ('0x' || substr(md5('d' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
                  THEN 'train' ELSE 'val' END AS naive_split
      FROM d),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS naive_straddle_hosts
      FROM (SELECT host FROM s GROUP BY host
            HAVING COUNT(DISTINCT naive_split) > 1)),
    g AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM s GROUP BY split)
    SELECT split, n_docs, n_hosts, n_tokens, naive_straddle_hosts
    FROM g CROSS JOIN leak
    """,
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: deterministic 80/20 assignment hashed
    at HOST granularity, so near-duplicate pages from one site can never
    straddle the split. Emits per-split doc/host/token counts plus
    ``naive_straddle_hosts`` — how many hosts a doc-level hash split would
    scatter across both sides (the leakage a host-level split prevents;
    structurally zero for the host-level assignment itself).

    Scale shape: split assignment is a pure projection (md5 of the key, no
    shuffle); the report is one host-keyed distinct-agg plus a two-row
    broadcast of the leak counter. The md5-derived bucket is portable
    across engines and stable across runs — reshuffling the corpus never
    moves a document between splits."""
    bucket = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(  # noqa: E731
        "bigint"
    ) % 10
    words_n = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    )
    s = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        words_n.cast("bigint").alias("n_tokens"),
        F.when(
            bucket(F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))) < 8,
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("split"),
        F.when(
            bucket(F.concat(F.lit("d"), F.col("doc_id").cast("string"))) < 8,
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("naive_split"),
    )
    leak = (
        s.groupBy("host")
        .agg(F.countDistinct("naive_split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("naive_straddle_hosts"))
    )
    g = s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return g.crossJoin(F.broadcast(leak)).select(
        "split", "n_docs", "n_hosts", "n_tokens", "naive_straddle_hosts"
    )


def _bpe_oracle(n_merges: int = 3) -> str:
    """Unrolled DuckDB twin of ``bpe_merges``: same word-frequency dict,
    same space-armored symbol strings, same plain-replace merge, same
    (count desc, left, right) argmax at every step."""
    parts = [
        f"WITH {_WORDS_CTE},",
        "flat AS (SELECT unnest(words) AS w FROM base),",
        "wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM flat"
        " WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w),",
        "w0 AS (SELECT cnt,"
        " regexp_replace(w, '(.)', ' \\1 ', 'g') AS sym FROM wc),",
    ]
    selects = []
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"t{i} AS (SELECT cnt, string_split(trim(sym), '  ') AS t FROM {prev}),"
        )
        parts.append(
            f"pu{i} AS (SELECT cnt, unnest([{{'l': t[j], 'r': t[j + 1]}}"
            f" for j in range(1, len(t))]) AS p FROM t{i}),"
        )
        parts.append(
            f"p{i} AS (SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c"
            f" FROM pu{i} GROUP BY p.l, p.r),"
        )
        parts.append(
            f"b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),"
        )
        if i < n_merges:
            parts.append(
                f"w{i} AS (SELECT cnt, replace(sym,"
                f" ' ' || b{i}.l || '  ' || b{i}.r || ' ',"
                f" ' ' || b{i}.l || b{i}.r || ' ') AS sym FROM {prev}, b{i}),"
            )
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS rank, l AS \"left\","
            f" r AS \"right\", c AS pair_count FROM b{i}"
        )
    sql = "\n".join(parts)
    return sql.rstrip(",") + "\n" + "\nUNION ALL\n".join(selects)


@query("bpe_merges", _bpe_oracle(3))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merge rules learned from the documents corpus — the
    tokenizer-training primitive. See functions/curation.bpe_merges for
    the merge semantics and the vocab-bounded scale shape."""
    from ocr_spark.functions.curation import bpe_merges

    return bpe_merges(_cpu(spark, sf_dir, "documents"), "text", n_merges=3)


def _bpe_tokenize_oracle(n_merges: int = 3) -> str:
    """Unrolled DuckDB twin of ``bpe_tokenize``: the bpe_merges chain with
    the word column carried through, the LAST merge also applied, then the
    per-word token count joined back to the exploded corpus."""
    parts = [
        f"WITH {_WORDS_CTE},",
        "flat0 AS (SELECT doc, unnest(words) AS w FROM base),",
        "wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM flat0"
        " WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w),",
        "w0 AS (SELECT w, cnt,"
        " regexp_replace(w, '(.)', ' \\1 ', 'g') AS sym FROM wc),",
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"t{i} AS (SELECT cnt, string_split(trim(sym), '  ') AS t FROM {prev}),"
        )
        parts.append(
            f"pu{i} AS (SELECT cnt, unnest([{{'l': t[j], 'r': t[j + 1]}}"
            f" for j in range(1, len(t))]) AS p FROM t{i}),"
        )
        parts.append(
            f"p{i} AS (SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c"
            f" FROM pu{i} GROUP BY p.l, p.r),"
        )
        parts.append(
            f"b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),"
        )
        parts.append(
            f"w{i} AS (SELECT w, cnt, replace(sym,"
            f" ' ' || b{i}.l || '  ' || b{i}.r || ' ',"
            f" ' ' || b{i}.l || b{i}.r || ' ') AS sym FROM {prev}, b{i}),"
        )
    parts.append(
        f"dict AS (SELECT w, CAST(len(string_split(trim(sym), '  ')) AS BIGINT)"
        f" AS tok_n FROM w{n_merges}),"
    )
    parts.append(
        "j AS (SELECT flat0.doc, dict.tok_n FROM flat0"
        " LEFT JOIN dict ON flat0.w = dict.w)"
    )
    return "\n".join(parts) + """
    SELECT doc, CAST(COUNT(tok_n) AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(tok_n), 0) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_skipped
    FROM j GROUP BY doc
    """


@query("bpe_tokenize", _bpe_tokenize_oracle(3))
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE end-to-end: learn 3 merges from the corpus, apply them, count
    post-merge tokens per document. The merge application is vocab-bounded
    (per distinct word, not per occurrence); see curation.bpe_tokenize."""
    from ocr_spark.functions.curation import bpe_tokenize

    return bpe_tokenize(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "extraction_eval",
    r"""
    WITH t0 AS (
      SELECT doc_id AS doc, text AS gold, trim(text) AS gt FROM documents),
    tk AS (SELECT doc, gold, string_split_regex(gt, '\s+') AS w0 FROM t0),
    bu AS (
      SELECT doc, gold,
             array_to_string(
               list_transform(
                 list_filter(generate_series(1, len(w0)), i -> i % 7 <> 0),
                 i -> w0[i]), ' ')
               || ' subscribe to our newsletter today' AS pred
      FROM tk),
    pt AS (
      SELECT doc,
             CASE WHEN length(trim(pred)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(pred)), '\s+') END AS words
      FROM bu),
    gt2 AS (
      SELECT doc,
             CASE WHEN length(trim(gold)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(gold)), '\s+') END AS words
      FROM bu),
    sz AS (
      SELECT pt.doc, CAST(len(pt.words) AS BIGINT) AS pred_n,
             CAST(len(gt2.words) AS BIGINT) AS gold_n
      FROM pt JOIN gt2 ON pt.doc = gt2.doc),
    tok AS (
      SELECT doc, unnest(words) AS w, 1 AS p, 0 AS g FROM pt
      UNION ALL
      SELECT doc, unnest(words) AS w, 0 AS p, 1 AS g FROM gt2),
    tf AS (SELECT doc, w, SUM(p) AS tp, SUM(g) AS tg FROM tok GROUP BY doc, w),
    ov AS (SELECT doc, CAST(SUM(LEAST(tp, tg)) AS BIGINT) AS overlap
           FROM tf GROUP BY doc),
    pr AS (
      SELECT sz.doc, pred_n, gold_n,
             CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap
      FROM sz LEFT JOIN ov ON sz.doc = ov.doc),
    bp AS (
      SELECT doc, pred_n, gold_n, overlap,
             CAST(CASE WHEN pred_n > 0 THEN (10000 * overlap) // pred_n
                       ELSE 0 END AS BIGINT) AS precision_bp,
             CAST(CASE WHEN gold_n > 0 THEN (10000 * overlap) // gold_n
                       ELSE 0 END AS BIGINT) AS recall_bp
      FROM pr)
    SELECT doc, pred_n, gold_n, overlap, precision_bp, recall_bp,
           CAST(CASE WHEN precision_bp + recall_bp > 0
                     THEN (2 * precision_bp * recall_bp)
                          // (precision_bp + recall_bp)
                     ELSE 0 END AS BIGINT) AS f1_bp
    FROM bp
    """,
)
def q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality eval over the documents corpus: token-bag
    precision/recall/F1 (exact basis points) of a degraded extraction
    against the gold text. The degraded side drops every 7th token and
    appends a boilerplate tail — a deterministic stand-in for a candidate
    extractor's miss/leak profile, so both the <1.0-recall and
    <1.0-precision paths are exercised on every document. See
    functions/curation.extraction_eval for the two-shuffle scale shape."""
    from ocr_spark.functions.curation import extraction_eval

    docs = _cpu(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    kept = F.filter(toks, lambda x, i: (i + 1) % 7 != 0)
    pred = F.concat(F.array_join(kept, " "),
                    F.lit(" subscribe to our newsletter today"))
    d = docs.select(
        "doc_id", F.col("text").alias("gold"), pred.alias("pred"))
    return extraction_eval(d, "doc_id", "pred", "gold")


_SURT_SQL = r"""
    regexp_replace(lower(regexp_replace(
      regexp_extract({u}, '(?i)^[a-z][a-z0-9+.-]*://(\[[^\]]+\]|[^/:?#]+)', 1),
      '^\[|\]$', '', 'g')), '^www\.', '')
"""


_CDX_URL = (
    ["https://WWW.Site", 11, ".com/P/", 7, "?b=2&a=1"],
    ["https://site", 11, ".com/p/", 7, "?a=1&b=2"],
    ["http://[2001:db8::", 5, "]:8080/idx"],
    ["HTTP://Host", 13, ".org"],
)
_RECAPTURE_TEXT = ([_TEXT], [_TEXT, "~"],
                   [_TEXT, "~"])


@query(
    "cdx_index",
    r"""
    WITH caps AS (
      SELECT doc_id * 2 AS capture, CAST(doc_id AS BIGINT) AS ts,
             doc_id AS k, text FROM documents
      UNION ALL
      SELECT doc_id * 2 + 1 AS capture, CAST(doc_id + 1000000 AS BIGINT) AS ts,
             doc_id AS k,
             {recapture} AS text
      FROM documents),
    u AS (
      SELECT capture, ts, text,
             {url} AS url
      FROM caps),
    s AS (
      SELECT capture, ts, text,
             {surt} AS host,
             regexp_replace(lower(regexp_replace(
               url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', '')), '#.*$', '') AS rest
      FROM u),
    kx AS (
      SELECT capture, ts, text,
             CASE WHEN regexp_matches(host, '^[0-9.]+$') OR contains(host, ':')
                  THEN host
                  ELSE array_to_string(list_reverse(string_split(host, '.')), ',')
             END AS hostkey,
             CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
                  ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
             regexp_extract(rest, '\?(.*)$', 1) AS query
      FROM s),
    base AS (
      SELECT capture,
             hostkey || ')' || path ||
             CASE WHEN query = '' THEN ''
                  ELSE '?' || array_to_string(
                         list_sort(string_split(query, '&')), '&') END AS urlkey,
             ts, sha256(text) AS digest
      FROM kx)
    SELECT CAST(capture AS BIGINT) AS capture, urlkey, ts, digest,
           CAST(COUNT(*) OVER (PARTITION BY urlkey) AS BIGINT) AS n_captures,
           CAST(CASE WHEN MIN(ts) OVER (PARTITION BY urlkey, digest) < ts
                     THEN 1 ELSE 0 END AS BIGINT) AS is_revisit
    FROM base
    """.replace("{surt}", _SURT_SQL.format(u="url"))
    .replace("{recapture}", case_sql("doc_id", _RECAPTURE_TEXT))
    .replace("{url}", case_sql("k", _CDX_URL)),
)
def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style capture index over a two-visit recrawl fixture: every
    document is captured twice (the recrawl keeps identical content for
    doc_id%3==0, so exactly those second captures are revisits), under
    URLs that exercise the SURT urlkey — www/case aliases and shuffled
    query-parameter order collapse to one key, IPv6 literals stay
    verbatim, bare authorities get the root path. See
    functions/curation.cdx_index for the one-exchange window plan."""
    from ocr_spark.functions.curation import cdx_index

    d = _cpu(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = case_col(k, _CDX_URL)
    caps = (
        d.select((k * 2).alias("capture"), k.cast("bigint").alias("ts"),
                 url.alias("url"), F.col("text"))
        .unionByName(
            d.select(
                (k * 2 + 1).alias("capture"),
                (k + 1000000).cast("bigint").alias("ts"),
                url.alias("url"),
                case_col(k, _RECAPTURE_TEXT).alias("text"),
            ))
    )
    out = cdx_index(caps, "capture", "url", "ts", "text")
    return out.withColumn("capture", F.col("capture").cast("bigint"))


@query(
    "url_patterns",
    r"""
    WITH u AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN
                    'https://trap.example/cal?d=' || CAST(doc_id AS VARCHAR)
                  WHEN doc_id % 3 = 1 THEN
                    'https://ok.example/page/' || CAST(doc_id % 4 AS VARCHAR)
                  ELSE 'https://ids.example/s/' || substr(sha256(text), 1, 12)
             END AS url
      FROM documents),
    p AS (
      SELECT lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\[[^\]]+\]|[^/:?#]+)', 1),
               '^\[|\]$', '', 'g')) AS host,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', ''),
               '#.*$', ''),
               '[0-9a-f]{8,}', 'H', 'g'),
               '[0-9]+', 'N', 'g'),
               '=[^&#]*', '=V', 'g') AS pattern,
             url AS u2
      FROM u)
    SELECT host, pattern,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT u2) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN COUNT(DISTINCT u2) >= 16 THEN 1 ELSE 0 END AS BIGINT)
             AS is_trap
    FROM p GROUP BY host, pattern
    """,
)
def q_url_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap template mining over a three-host fixture: a calendar
    trap (one template, unbounded distinct URLs), a bounded pagination
    host (4 distinct pages — never flagged), and a hex-id host whose long
    ids collapse to H but still explode distinct URLs. See
    functions/curation.url_patterns."""
    from ocr_spark.functions.curation import url_patterns

    k = F.col("doc_id")
    url = (
        F.when(k % 3 == 0, F.concat(
            F.lit("https://trap.example/cal?d="), k.cast("string")))
        .when(k % 3 == 1, F.concat(
            F.lit("https://ok.example/page/"), (k % 4).cast("string")))
        .otherwise(F.concat(
            F.lit("https://ids.example/s/"),
            F.substring(F.sha2(F.col("text"), 256), 1, 12)))
    )
    d = _cpu(spark, sf_dir, "documents").select(url.alias("url"))
    return url_patterns(d, "url")


@query(
    "manifest_prune",
    r"""
    WITH li AS (
      SELECT l_orderkey // 500 AS f,
             l_orderkey AS orderkey,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(date_part('year', l_shipdate) * 12
                  + date_part('month', l_shipdate) AS BIGINT) AS shipm,
             l_orderkey * 2 AS evens
      FROM lineitem),
    stats AS (
      SELECT f, COUNT(*) AS n_rows,
             MIN(orderkey) AS mn_o, MAX(orderkey) AS mx_o,
             MIN(qty) AS mn_q, MAX(qty) AS mx_q,
             MIN(shipm) AS mn_s, MAX(shipm) AS mx_s,
             MIN(evens) AS mn_e, MAX(evens) AS mx_e,
             SUM(CASE WHEN orderkey BETWEEN 310 AND 1650 THEN 1 ELSE 0 END) AS m1,
             SUM(CASE WHEN qty BETWEEN 1 AND 3 THEN 1 ELSE 0 END) AS m2,
             SUM(CASE WHEN shipm BETWEEN 23941 AND 23943 THEN 1 ELSE 0 END) AS m3,
             SUM(CASE WHEN evens BETWEEN 1001 AND 1001 THEN 1 ELSE 0 END) AS m4
      FROM li GROUP BY f),
    exp AS (
      SELECT 1 AS pred_id, 'orderkey' AS col, 310 AS lo, 1650 AS hi,
             n_rows, mn_o AS mn, mx_o AS mx, m1 AS m FROM stats
      UNION ALL
      SELECT 2, 'qty', 1, 3, n_rows, mn_q, mx_q, m2 FROM stats
      UNION ALL
      SELECT 3, 'shipm', 23941, 23943, n_rows, mn_s, mx_s, m3 FROM stats
      UNION ALL
      SELECT 4, 'evens', 1001, 1001, n_rows, mn_e, mx_e, m4 FROM stats)
    SELECT CAST(pred_id AS BIGINT) AS pred_id, col,
           CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mx >= lo AND mn <= hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_files_kept,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN mx >= lo AND mn <= hi THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_in_kept_files,
           CAST(SUM(m) AS BIGINT) AS exact_rows,
           CAST(SUM(CASE WHEN mx >= lo AND mn <= hi AND m = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fp_files
    FROM exp GROUP BY pred_id, col, lo, hi
    """,
)
def q_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping audit over an orderkey-clustered synthetic
    file layout (file = l_orderkey//500): predicate 1 (an orderkey range)
    prunes all but the boundary-straddling files, predicates 2-3 (quantity
    / ship-month ranges, uncorrelated with the clustering) keep every file,
    and predicate 4 probes an odd value of a doubled-key column — min/max
    overlap everywhere, zero matching rows, so every kept file is counted
    a false positive (the case dictionary/Bloom skipping exists to close).
    See functions/curation.zone_map_prune for the one-pass scale shape."""
    from ocr_spark.functions.curation import zone_map_prune

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_orderkey") / 500).alias("f"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("bigint").alias("shipm"),
        (F.col("l_orderkey") * 2).alias("evens"),
    )
    preds = [
        (1, "orderkey", 310, 1650),
        (2, "qty", 1, 3),
        (3, "shipm", 23941, 23943),
        (4, "evens", 1001, 1001),
    ]
    return zone_map_prune(li, "f", preds)


@query(
    "phrase_search",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
      FROM documents),
    b AS (
      SELECT doc_id,
             unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))])
               AS bigram
      FROM t),
    cf AS (SELECT bigram, COUNT(*) AS corpus_freq FROM b GROUP BY bigram),
    top3 AS (SELECT bigram, corpus_freq FROM cf
             ORDER BY corpus_freq DESC, bigram LIMIT 3)
    SELECT b.bigram, CAST(t3.corpus_freq AS BIGINT) AS corpus_freq,
           b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM b JOIN top3 t3 ON t3.bigram = b.bigram
    GROUP BY b.bigram, t3.corpus_freq, b.doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hottest-phrase retrieval over the documents corpus: the top-3
    adjacent-token bigrams by collection frequency and every document
    occurrence count for them — the phrase-match query a positional
    postings index answers, with the adjacency join expressed row-locally.
    See functions/curation.phrase_topk for the zero-shuffle bigram
    construction and broadcast phrase-list scale shape."""
    from ocr_spark.functions.curation import phrase_topk

    return phrase_topk(_cpu(spark, sf_dir, "documents"), "doc_id", "text", 3)


@query("label_propagation", """
    WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
    raw AS (SELECT node, unnest(generate_series(1, 1 + node % 3)) AS j
            FROM nodes),
    e AS (SELECT DISTINCT node AS src, (node * 13 + j * 29) % 100 AS dst
          FROM raw WHERE (node * 13 + j * 29) % 100 != node),
    und AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
            WHERE src != dst),
    gn AS (SELECT DISTINCT src AS node FROM und
           UNION SELECT DISTINCT dst FROM und),
    l0 AS (SELECT node, node AS label FROM gn),
    c1 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l0 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m1 AS (SELECT node, MAX(c) AS mc FROM c1 GROUP BY node),
    l1 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l0 p
      LEFT JOIN c1 c ON c.node = p.node
      LEFT JOIN m1 m ON m.node = p.node
      GROUP BY p.node, p.label),
    c2 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l1 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m2 AS (SELECT node, MAX(c) AS mc FROM c2 GROUP BY node),
    l2 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l1 p
      LEFT JOIN c2 c ON c.node = p.node
      LEFT JOIN m2 m ON m.node = p.node
      GROUP BY p.node, p.label),
    c3 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l2 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m3 AS (SELECT node, MAX(c) AS mc FROM c3 GROUP BY node),
    l3 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l2 p
      LEFT JOIN c3 c ON c.node = p.node
      LEFT JOIN m3 m ON m.node = p.node
      GROUP BY p.node, p.label),
    c4 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l3 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m4 AS (SELECT node, MAX(c) AS mc FROM c4 GROUP BY node),
    l4 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l3 p
      LEFT JOIN c4 c ON c.node = p.node
      LEFT JOIN m4 m ON m.node = p.node
      GROUP BY p.node, p.label),
    sz AS (SELECT label, COUNT(*) AS community_size
           FROM l4 GROUP BY label)
    SELECT l.node, l.label AS community,
           CAST(s.community_size AS BIGINT) AS community_size
    FROM l4 l JOIN sz s ON s.label = l.label
    """)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the shared 100-host link graph via 4 rounds
    of deterministic synchronous label propagation (mode-of-neighbors,
    smallest-label ties) — the community signal beside PageRank (authority),
    HITS (hubs), triangle counting (local density), and min-label
    connected components (reachability). The DuckDB twin unrolls the same
    synchronous rounds. See functions/graph.label_propagation."""
    from ocr_spark.functions.graph import label_propagation

    return label_propagation(_host_edges(spark, sf_dir), n_iters=4)


@query(
    "ks_drift",
    """
    WITH s AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN n_chars
                  ELSE n_chars + (doc_id % 7) * 25 END AS v,
             doc_id % 2 AS side
      FROM documents),
    pv AS (SELECT v,
                  SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS a,
                  SUM(CASE WHEN side = 0 THEN 0 ELSE 1 END) AS b
           FROM s GROUP BY v),
    t AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
                 CAST(SUM(b) AS BIGINT) AS n_b FROM pv),
    c AS (SELECT v,
                 SUM(a) OVER (ORDER BY v) AS ca,
                 SUM(b) OVER (ORDER BY v) AS cb
          FROM pv)
    SELECT t.n_a, t.n_b, c.v AS at_value,
           CAST(ABS(c.ca * t.n_b - c.cb * t.n_a) AS BIGINT) AS d_num,
           CAST(ABS(c.ca * t.n_b - c.cb * t.n_a) * 10000
                // (t.n_a * t.n_b) AS BIGINT) AS ks_bp
    FROM c, t
    ORDER BY ABS(c.ca * t.n_b - c.cb * t.n_a) DESC, c.v
    LIMIT 1
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate between two synthetic crawl snapshots of
    the documents corpus: the baseline side keeps n_chars, the recrawl
    side is shifted by a deterministic doc-dependent offset, and the
    two-sample KS statistic (exact integer numerator, supremum location,
    basis points) quantifies the drift an extractor-version bump must
    stay under. See functions/curation.ks_drift for the value-histogram
    scale shape."""
    from ocr_spark.functions.curation import ks_drift

    d = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, F.col("n_chars"))
        .otherwise(F.col("n_chars") + (F.col("doc_id") % 7) * 25)
        .alias("v"),
        (F.col("doc_id") % 2).alias("side"),
    )
    return ks_drift(d, "v", "side")


@query(
    "zipf_fit",
    r"""
    WITH t AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents),
    v AS (SELECT term, COUNT(*) AS freq FROM t
          WHERE term != '' GROUP BY term),
    topv AS (SELECT term, freq FROM v ORDER BY freq DESC, term LIMIT 256),
    r AS (SELECT freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
          FROM topv),
    xy AS (SELECT
             CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS y
           FROM r),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM xy),
    f AS (SELECT n AS n_terms,
                 CAST(n * sxy - sx * sy AS BIGINT) AS num,
                 CAST(n * sxx - sx * sx AS BIGINT) AS den
          FROM s)
    SELECT n_terms, num, den,
           CAST(CASE WHEN den // 1000 > 0
                THEN ((-num) // den) * 1000000
                   + (((-num) % den) * 1000) // (den // 1000)
                ELSE 0 END AS BIGINT) AS abs_slope_ppm
    FROM f
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency regression over the documents vocabulary —
    exact integer milli-nat least squares on the top-256 terms; the
    corpus-health statistic beside vocab_topk (who the head terms are)
    and unigram_kl (who deviates from the corpus). See
    functions/curation.zipf_fit."""
    from ocr_spark.functions.curation import zipf_fit

    return zipf_fit(_cpu(spark, sf_dir, "documents"), "text", 256)


@query(
    "ngram_novelty",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
      FROM documents),
    dg AS (
      SELECT DISTINCT doc_id,
             unnest([l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]
                     for i in range(1, len(l) - 1)]) AS g
      FROM t),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g),
    per_doc AS (
      SELECT dg.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM dg JOIN first f ON f.g = dg.g
      GROUP BY dg.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
                THEN (p.n_novel * 10000) // p.n_grams
                ELSE 0 END AS BIGINT) AS novelty_bp
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty over the documents corpus: how much
    of each document's distinct trigram set first enters the corpus with
    that document — the is-the-crawl-still-finding-new-text signal,
    complementary to corpus_dup_ngrams (how shared the corpus is) and
    dup_span_removal (which spans to cut). See
    functions/curation.ngram_novelty."""
    from ocr_spark.functions.curation import ngram_novelty

    return ngram_novelty(_cpu(spark, sf_dir, "documents"), "doc_id", "text", 3)


# 40% of docs on one host
_SKEW_HOST = (["mega.example"],) * 4 + (["h", 37, ".example"],) * 6
_SKEW_HOST_SQL = f"""
      SELECT doc_id, {case_sql('doc_id', _SKEW_HOST)} AS host
      FROM documents
"""


@query(
    "salt_skew_audit",
    f"""
    WITH u AS ({_SKEW_HOST_SQL}),
    pb AS (SELECT ('0x' || substr(md5(host), 1, 15))::BIGINT % 16 AS bucket
           FROM u),
    sb AS (SELECT ('0x' || substr(md5(host || '#'
                || CAST(doc_id % 8 AS VARCHAR)), 1, 15))::BIGINT % 16 AS bucket
           FROM u),
    ps AS (SELECT bucket, COUNT(*) AS n FROM pb GROUP BY bucket),
    ss AS (SELECT bucket, COUNT(*) AS n FROM sb GROUP BY bucket)
    SELECT 'plain' AS strategy,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n,
           CAST(MIN(n) AS BIGINT) AS min_bucket_n,
           CAST((MAX(n) * 16 * 10000) // SUM(n) AS BIGINT) AS skew_bp
    FROM ps
    UNION ALL
    SELECT 'salted',
           CAST(COUNT(*) AS BIGINT),
           CAST(MAX(n) AS BIGINT),
           CAST(MIN(n) AS BIGINT),
           CAST((MAX(n) * 16 * 10000) // SUM(n) AS BIGINT)
    FROM ss
    """,
)
def q_salt_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit on a deterministically skewed host column
    (one mega-host holding 40% of rows, a Zipf-ish tail of 37 small
    hosts): bucket occupancy by md5(host) alone vs md5(host + per-row
    salt), quantifying exactly what the extraction pipeline's
    hash(url)+salt repartition buys before a 100 TB run commits to a
    layout. See functions/curation.salt_skew_audit."""
    from ocr_spark.functions.curation import salt_skew_audit

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _SKEW_HOST).alias("host"))
    return salt_skew_audit(docs, "host", "doc_id", n_buckets=16, n_salts=8)


@query(
    "degree_stats",
    f"""
    WITH {_HOST_EDGES_SQL},
    vn AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    out_d AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY src),
    in_d AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY dst),
    rec AS (SELECT a.src AS node, COUNT(*) AS n_reciprocal
            FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src
            GROUP BY a.src)
    SELECT vn.node,
           CAST(COALESCE(out_d.out_deg, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(in_d.in_deg, 0) AS BIGINT) AS in_deg,
           CAST(COALESCE(rec.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
           CAST(CASE WHEN COALESCE(out_d.out_deg, 0) > 0
                THEN (COALESCE(rec.n_reciprocal, 0) * 10000)
                     // out_d.out_deg
                ELSE 0 END AS BIGINT) AS reciprocity_bp
    FROM vn
    LEFT JOIN out_d ON out_d.node = vn.node
    LEFT JOIN in_d ON in_d.node = vn.node
    LEFT JOIN rec ON rec.node = vn.node
    """,
)
def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree and link-reciprocity stats over the shared 100-host
    link graph — the link-farm shape detector (high out-degree, near-zero
    reciprocity) beside host_pagerank (authority) and triangle_count
    (local density). See functions/graph.degree_stats."""
    from ocr_spark.functions.graph import degree_stats

    return degree_stats(_host_edges(spark, sf_dir))


@query(
    "digit_hist_quantiles",
    """
    WITH base AS (
      SELECT n_chars FROM documents
      WHERE n_chars IS NOT NULL AND n_chars >= 0),
    hist AS (
      SELECT length(CAST(n_chars AS VARCHAR)) AS bucket, COUNT(*) AS n
      FROM base GROUP BY 1),
    cum AS (
      SELECT bucket, n,
             SUM(n) OVER (ORDER BY bucket) AS cum,
             SUM(n) OVER () AS total
      FROM hist),
    qs AS (SELECT unnest([50, 90, 99]) AS quantile_pct),
    sel AS (
      SELECT q.quantile_pct, MIN(c.bucket) AS bucket_digits
      FROM qs q JOIN cum c ON c.cum * 100 >= q.quantile_pct * c.total
      GROUP BY q.quantile_pct)
    SELECT CAST(s.quantile_pct AS BIGINT) AS quantile_pct,
           CAST(s.bucket_digits AS BIGINT) AS bucket_digits,
           CASE WHEN s.bucket_digits <= 18
                THEN CAST(repeat('9', s.bucket_digits) AS BIGINT)
                ELSE NULL END AS bucket_ub,
           CAST(c.cum AS BIGINT) AS n_le
    FROM sel s JOIN cum c ON c.bucket = s.bucket_digits
    """,
)
def q_digit_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable decimal-digit histogram quantiles over documents.n_chars:
    the sketch-family quantile reader (beside HLL/CMS/Bloom) — one <=19-key
    hash agg replaces a global sort, and the answer is a deterministic
    bucket bound, not an engine-specific interpolation. See
    functions/curation.digit_hist_quantiles."""
    from ocr_spark.functions.curation import digit_hist_quantiles

    return digit_hist_quantiles(
        _t(spark, sf_dir, "documents"), "n_chars", (50, 90, 99))


@query(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    m AS (
      SELECT prev_type, next_type, n,
             SUM(n) OVER (PARTITION BY prev_type) AS row_m,
             SUM(n) OVER (PARTITION BY next_type) AS col_m,
             SUM(n) OVER () AS total
      FROM trans)
    SELECT prev_type, next_type,
           CAST(n AS BIGINT) AS n,
           CAST((n * total * 10000) // (row_m * col_m) AS BIGINT) AS lift_bp
    FROM m
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition mining over per-user event streams: consecutive
    (prev_type, next_type) pair counts with an exact-integer independence
    lift in basis points — funnel edges read >>10000, avoided paths
    <<10000. One user-keyed shuffle, then tiny-frame marginals. See
    functions/temporal.event_transitions."""
    from ocr_spark.functions.temporal import event_transitions

    return event_transitions(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        "event_id")


@query(
    "pareto_orders",
    """
    WITH pts AS (
      SELECT o_orderkey AS id,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS y
      FROM orders)
    SELECT id AS o_orderkey, x AS price_cents, y AS order_day
    FROM (
      SELECT id, x, y,
             MAX(y) OVER (ORDER BY x DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mgt,
             MAX(y) OVER (PARTITION BY x) AS meq
      FROM pts)
    WHERE (mgt IS NULL OR y > mgt) AND y = meq
    """,
)
def q_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-D Pareto front of orders by (price, recency) — the
    non-dominated set selection primitive (data-selection twin:
    quality x freshness). The lossless bucket-local prune keeps the
    global window off the raw table. See functions/curation.pareto_front."""
    from ocr_spark.functions.curation import pareto_front

    pts = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents("o_totalprice").alias("price_cents"),
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("order_day"),
    )
    return pareto_front(
        pts, "o_orderkey", "price_cents", "order_day"
    ).select(
        F.col("id").alias("o_orderkey"),
        F.col("x").alias("price_cents"),
        F.col("y").alias("order_day"),
    )


@query(
    "rank_fusion",
    r"""
    WITH sig AS (
      SELECT doc_id AS id,
             CAST(n_chars AS BIGINT) AS s_len,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(list_distinct(
                         string_split_regex(lower(trim(text)), '\s+')))
                  END AS BIGINT) AS s_vocab,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS BIGINT) AS s_alpha
      FROM documents),
    r AS (
      SELECT id,
        CAST(ROW_NUMBER() OVER (ORDER BY s_len DESC, id) AS BIGINT)
          AS rank_s_len,
        CAST(ROW_NUMBER() OVER (ORDER BY s_vocab DESC, id) AS BIGINT)
          AS rank_s_vocab,
        CAST(ROW_NUMBER() OVER (ORDER BY s_alpha DESC, id) AS BIGINT)
          AS rank_s_alpha
      FROM sig)
    SELECT id AS doc_id, rank_s_len, rank_s_vocab, rank_s_alpha,
           CAST(1000000 // (60 + rank_s_len)
                + 1000000 // (60 + rank_s_vocab)
                + 1000000 // (60 + rank_s_alpha) AS BIGINT) AS rrf_micro
    FROM r
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of three incomparable quality signals
    (length, distinct-token vocabulary, alpha-char purity) into one
    integer curation score — exact global ranks WITHOUT a global sort
    (histogram n_gt + value-partitioned row_number). See
    functions/curation.rrf_fusion."""
    from ocr_spark.functions.curation import rrf_fusion

    t = F.trim(F.col("text"))
    sig = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("s_len"),
        F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.size(F.array_distinct(F.split(F.lower(t), r"\s+")))
        ).alias("s_vocab"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
        ).alias("s_alpha"),
    )
    return rrf_fusion(
        sig, "doc_id", ["s_len", "s_vocab", "s_alpha"]
    ).select(
        F.col("id").alias("doc_id"),
        "rank_s_len", "rank_s_vocab", "rank_s_alpha", "rrf_micro",
    )


@query(
    "readability",
    r"""
    WITH base AS (
      SELECT doc_id AS id,
             CAST(length(string_split_regex(trim(text), '\s+'))
                  AS BIGINT) AS n_words,
             CAST(GREATEST(
               length(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences,
             CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
      WHERE length(trim(text)) > 0),
    scored AS (
      SELECT id, n_words, n_sentences, n_syllables,
             CAST(206835 - (1015 * n_words) // n_sentences
                  - (84600 * n_syllables) // n_words AS BIGINT)
               AS flesch_milli
      FROM base WHERE n_words > 0)
    SELECT id AS doc_id, n_words, n_sentences, n_syllables, flesch_milli,
           CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
                WHEN flesch_milli >= 60000 THEN 'standard'
                WHEN flesch_milli >= 30000 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM scored
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Flesch-reading-ease proxy per document (vowel-run syllable
    counting, exact milli-point formula, textbook 90/60/30 bands) — the
    cheap readability lens beside doc_quality/gopher_rules. See
    functions/curation.readability."""
    from ocr_spark.functions.curation import readability

    return readability(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text"
    ).select(
        F.col("id").alias("doc_id"),
        "n_words", "n_sentences", "n_syllables", "flesch_milli", "band",
    )


@query(
    "term_burstiness",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    td AS (SELECT w, doc, COUNT(*) AS n FROM flat GROUP BY w, doc),
    v AS (SELECT w, CAST(SUM(n) AS BIGINT) AS cf,
                 CAST(COUNT(*) AS BIGINT) AS df
          FROM td GROUP BY w)
    SELECT w, cf, df,
           CAST((cf * 10000) // df AS BIGINT) AS burstiness_bp
    FROM v WHERE df >= 5
    ORDER BY burstiness_bp DESC, w LIMIT 100
    """,
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: collection frequency over document
    frequency in basis points — a bursty term (cf >> df) concentrates in
    few documents (topical/template vocabulary), a non-bursty one spreads
    evenly (function words). The curation read: extreme burstiness at
    high cf flags boilerplate/template tokens that repetition filters
    should see.

    Scale shape: the (term, doc) pre-agg makes df a plain COUNT instead
    of a data-sized COUNT DISTINCT; both aggs have map-side partials and
    the global top-100 compiles to TakeOrdered, never a total sort."""
    base = _cpu(spark, sf_dir, "documents")
    words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    flat = base.select(F.col("doc_id").alias("doc"), F.explode(words).alias("w"))
    td = flat.groupBy("w", "doc").agg(F.count(F.lit(1)).alias("n"))
    v = td.groupBy("w").agg(
        F.sum("n").cast("bigint").alias("cf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    return (
        v.filter(F.col("df") >= 5)
        .select(
            "w", "cf", "df",
            F.expr("CAST((cf * 10000) div df AS BIGINT)")
            .alias("burstiness_bp"),
        )
        .orderBy(F.col("burstiness_bp").desc(), "w")
        .limit(100)
    )


_INT8_TOPK_SQL = """
    SELECT * FROM (
    WITH base AS (
      SELECT vec_id AS nid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings),
    mx AS (SELECT nid, nvec,
                  list_max(list_transform(nvec, x -> abs(x))) AS m
           FROM base),
    codes AS (
      SELECT nid,
             CASE WHEN m > 0
                  THEN list_transform(nvec,
                         x -> CAST(floor(x * CAST(127 AS DOUBLE) / m)
                                   AS BIGINT))
                  ELSE list_transform(nvec, x -> CAST(0 AS BIGINT))
             END AS qv
      FROM mx),
    q AS (SELECT nid AS qid, qv AS qqv FROM codes WHERE nid < 10),
    scored AS (
      SELECT q.qid, c.nid,
             CAST(list_aggregate(
               list_transform(list_zip(q.qqv, c.qv), p -> p[1] * p[2]),
               'sum') AS BIGINT) AS dot_q
      FROM codes c CROSS JOIN q WHERE c.nid != q.qid)
    SELECT qid, nid, dot_q, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, dot_q,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot_q DESC, nid) AS rk
      FROM scored)
    WHERE rk <= 5
    )
"""


@query("int8_topk", _INT8_TOPK_SQL)
def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors under max-abs int8 scalar quantization — the 4x
    memory-compression search path with an exact order-free int64 dot
    product. See functions/similarity.int8_topk."""
    out = similarity.int8_topk(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select(
        "qid", "nid", "dot_q", F.col("rank").cast("bigint").alias("rank"))


@query(
    "int8_recall",
    f"""
    WITH ex AS (SELECT qid, nid FROM ({_COSINE_TOPK_SQL})),
    qz AS (SELECT qid, nid FROM ({_INT8_TOPK_SQL})),
    hits AS (
      SELECT ex.qid, COUNT(qz.nid) AS n_hits
      FROM ex LEFT JOIN qz ON ex.qid = qz.qid AND ex.nid = qz.nid
      GROUP BY ex.qid)
    SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits * 10000 // 5 AS BIGINT) AS recall_bp
    FROM hits
    """,
)
def q_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the int8-quantized search against the
    brute-force float cosine ground truth — measures what 4x compression
    costs in neighbor quality, inside the correctness gate like ann_eval."""
    emb = _cpu(spark, sf_dir, "embeddings")
    ex = similarity.brute_force_topk(emb, "vec_id", "embedding").select(
        "qid", "nid")
    qz = similarity.int8_topk(emb, "vec_id", "embedding").select(
        F.col("qid").alias("zqid"), F.col("nid").alias("znid"))
    hits = (
        ex.join(qz, (ex["qid"] == qz["zqid"]) & (ex["nid"] == qz["znid"]),
                "left")
        .groupBy("qid")
        .agg(F.count("znid").alias("n_hits"))
    )
    return hits.select(
        "qid", F.col("n_hits").cast("bigint").alias("n_hits"),
        F.expr("CAST(n_hits * 10000 div 5 AS BIGINT)").alias("recall_bp"),
    )


@query(
    "source_overlap",
    f"""
    WITH pairs AS ({_LSH_PAIRS_SQL}),
    smap AS (SELECT doc_id, source FROM documents),
    cs AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    pg AS (
      SELECT LEAST(a.source, b.source) AS src_a,
             GREATEST(a.source, b.source) AS src_b,
             COUNT(*) AS n_pairs
      FROM pairs p
      JOIN smap a ON a.doc_id = p.doc_a
      JOIN smap b ON b.doc_id = p.doc_b
      GROUP BY 1, 2)
    SELECT pg.src_a, pg.src_b,
           CAST(pg.n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN pg.src_a = pg.src_b
                THEN pg.n_pairs * 1000000 // (ca.n * (ca.n - 1) // 2)
                ELSE pg.n_pairs * 1000000 // (ca.n * cb.n)
                END AS BIGINT) AS overlap_ppm
    FROM pg
    JOIN cs ca ON ca.source = pg.src_a
    JOIN cs cb ON cb.source = pg.src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate affinity matrix: LSH candidate pairs
    rolled up to unordered (source, source) cells, normalized by the
    possible-pair count into exact ppm — the corpus-mixing signal
    (mirror sites and syndicated feeds light up off-diagonal cells;
    within-source template reuse lights the diagonal).

    Scale shape: composes lsh_candidate_pairs (bucket-local joins keyed
    on (band, signature), degenerate-cap bounded) with two broadcast-able
    id->source lookups and a source-pair agg whose frame is
    |sources|^2 — corpus-size-free past the pair generator."""
    from ocr_spark.functions.dedup import lsh_candidate_pairs

    docs = _cpu(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", n_bands=4)
    smap = docs.select("doc_id", "source")
    cs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    j = (
        pairs
        .join(smap.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("source", "sa"), "doc_a")
        .join(smap.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("source", "sb"), "doc_b")
    )
    pg = (
        j.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return (
        pg
        .join(cs.withColumnRenamed("source", "src_a")
              .withColumnRenamed("n", "na"), "src_a")
        .join(cs.withColumnRenamed("source", "src_b")
              .withColumnRenamed("n", "nb"), "src_b")
        .select(
            "src_a", "src_b",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr(
                "CAST(CASE WHEN src_a = src_b"
                "     THEN n_pairs * 1000000 div (na * (na - 1) div 2)"
                "     ELSE n_pairs * 1000000 div (na * nb)"
                "     END AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    """Unrolled peel: each round keeps edges whose BOTH endpoints have
    degree >= k; once peeling converges the remaining rounds are no-ops,
    so a fixed unroll >= the fixture's peel depth (4 for k=3) is the
    exact k-core (the Spark side loops to convergence and raises if it
    needs more rounds than this twin unrolls — see tests). MATERIALIZED
    is required: each round reads its predecessor three times, and
    DuckDB's default CTE inlining would expand the base scan 3^rounds
    times (observed as a too-many-open-files explosion)."""
    iters = ""
    for i in range(1, rounds + 1):
        iters += f""",
    s{i} AS MATERIALIZED (
      SELECT t.src, t.dst FROM s{i - 1} t
      JOIN (SELECT src, COUNT(*) AS d FROM s{i - 1} GROUP BY src) da
        ON da.src = t.src AND da.d >= {k}
      JOIN (SELECT src, COUNT(*) AS d FROM s{i - 1} GROUP BY src) db
        ON db.src = t.dst AND db.d >= {k})"""
    return f"""
    WITH {_HOST_EDGES_SQL},
    s0 AS MATERIALIZED (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e){iters}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM s{rounds} GROUP BY src
    """


@query("kcore", _kcore_oracle(), eager=True)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the shared 100-host link graph by iterative peel — the
    dense-subgraph reduction that sheds link farms at low k and is the
    standard prefilter before community detection. The Spark side peels
    to convergence (raising on non-convergence, never a silent partial
    core); the DuckDB twin unrolls 10 peel rounds, which is >= the
    fixture's peel depth. See functions/graph.kcore."""
    from ocr_spark.functions.graph import kcore

    return kcore(_host_edges(spark, sf_dir), k=3)


def _seed_distance_oracle(rounds: int = 4) -> str:
    iters = ""
    for i in range(1, rounds + 1):
        iters += f""",
    d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM e JOIN d{i - 1} d ON d.node = e.src
        UNION ALL SELECT node, dist FROM d{i - 1}) GROUP BY node)"""
    return f"""
    WITH {_HOST_EDGES_SQL},
    d0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, 0 AS dist FROM e WHERE src % 10 = 0
      UNION SELECT DISTINCT dst, 0 FROM e WHERE dst % 10 = 0){iters}
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}
    """


@query("seed_distance", _seed_distance_oracle(), eager=True)
def q_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the 10 trusted-seed hosts (node % 10 == 0)
    over the directed link graph, 4 relaxation rounds — the
    crawl-frontier prioritization / spam-demotion signal (TrustRank's
    discrete cousin); nodes beyond the horizon are absent, not silently
    zero. See functions/graph.seed_distance."""
    from ocr_spark.functions.graph import seed_distance

    e = _host_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 10 == 0)
    return seed_distance(e, seeds, rounds=4)


@query(
    "vocab_coverage",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    v AS (SELECT w, COUNT(*) AS cf FROM flat GROUP BY w),
    tot AS (SELECT SUM(cf) AS total FROM v),
    top AS (SELECT w, cf, ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS rk
            FROM v ORDER BY cf DESC, w LIMIT 1000),
    cum AS (SELECT rk, SUM(cf) OVER (ORDER BY rk) AS mass FROM top)
    SELECT n.top_n,
           CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS vocab_size,
           CAST(COALESCE((SELECT MAX(mass) FROM cum WHERE rk <= n.top_n),
                         0) AS BIGINT) AS covered_cf,
           CAST(COALESCE((SELECT MAX(mass) FROM cum WHERE rk <= n.top_n),
                         0) * 10000 // t.total AS BIGINT) AS covered_bp
    FROM (SELECT unnest([10, 100, 1000]) AS top_n) n CROSS JOIN tot t
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of corpus token mass the
    top-10/100/1000 terms cover (exact bp) — the tokenizer-budget
    diagnostic (a steep curve says a small vocab suffices; a flat one
    says the corpus is vocabulary-hungry).

    Scale shape: one term-keyed agg with map-side partials is the only
    data-sized shuffle; the top-1000 selection is TakeOrdered (bounded
    heap, never a vocab sort) and the cumulative/checkpoint reads run on
    the 1000-row frame with one broadcast total."""
    base = _cpu(spark, sf_dir, "documents")
    words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    flat = base.select(F.col("doc_id").alias("doc"), F.explode(words).alias("w"))
    v = flat.groupBy("w").agg(F.count(F.lit(1)).alias("cf")).persist()
    tot = v.agg(
        F.sum("cf").alias("total"), F.count(F.lit(1)).alias("vocab_size"))
    top = v.orderBy(F.col("cf").desc(), "w").limit(1000)
    wcum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        top.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cf").desc(), "w")),
        )
        .withColumn("mass", F.sum("cf").over(wcum))
    )
    ns = spark.range(1).select(
        F.explode(F.array(F.lit(10), F.lit(100), F.lit(1000)))
        .alias("top_n"))
    cov = (
        ns.join(F.broadcast(cum.select("rk", "mass")),
                F.col("rk") <= F.col("top_n"), "left")
        .groupBy("top_n")
        .agg(F.coalesce(F.max("mass"), F.lit(0)).alias("covered_cf"))
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        F.col("top_n").cast("bigint").alias("top_n"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("covered_cf").cast("bigint").alias("covered_cf"),
        F.expr("CAST(covered_cf * 10000 div total AS BIGINT)")
        .alias("covered_bp"),
    )


@query(
    "winsorize_events",
    """
    WITH hist AS (
      SELECT event_type AS k,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT k, v, c,
             SUM(c) OVER (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY k) AS n
      FROM hist),
    bounds AS (
      SELECT k,
             MIN(CASE WHEN cum >= (1 * n + 99) // 100 THEN v END) AS p_lo,
             MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END) AS p_hi
      FROM r GROUP BY k)
    SELECT h.k AS event_type,
           CAST(MAX(b.p_lo) AS BIGINT) AS p_lo,
           CAST(MAX(b.p_hi) AS BIGINT) AS p_hi,
           CAST(SUM(CASE WHEN h.v < b.p_lo THEN h.c ELSE 0 END)
                AS BIGINT) AS n_lo,
           CAST(SUM(CASE WHEN h.v > b.p_hi THEN h.c ELSE 0 END)
                AS BIGINT) AS n_hi,
           CAST(SUM(h.c * h.v) AS BIGINT) AS sum_raw,
           CAST(SUM(h.c * GREATEST(LEAST(h.v, b.p_hi), b.p_lo))
                AS BIGINT) AS sum_clamped
    FROM hist h JOIN bounds b ON b.k = h.k
    GROUP BY h.k
    """,
)
def q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization report (exact integer p1/p99 bounds
    via the value-histogram rule, tail clamp counts, sum before/after) —
    the robust-aggregation guard against scraper-artifact outliers. See
    functions/curation.winsorize."""
    from ocr_spark.functions.curation import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("value_cents"))
    return winsorize(ev, "event_type", "value_cents", lo_pct=1, hi_pct=99)


def _power_iter_oracle(n_iters: int = 3) -> str:
    """Unrolled fixed-point power iteration. DuckDB's // FLOORS while
    Spark's div TRUNCATES toward zero, so every signed division is
    spelled as a sign CASE over positive //; the normalizer scalars (m,
    q0) are positive, so their own // is safe."""
    V = 10**6
    Q = 1 << 20

    def trunc(x: str, d: str) -> str:
        return (f"(CASE WHEN ({x}) >= 0 THEN ({x}) // ({d})"
                f" ELSE -((-({x})) // ({d})) END)")

    def norm(src: str, key: str, val: str, out: str) -> str:
        inner = trunc(val, f"GREATEST(m // {V}, 1)")
        full = trunc(f"{inner} * {V}",
                     f"GREATEST(m // GREATEST(m // {V}, 1), 1)")
        return (f"SELECT {key}, CAST({full} AS BIGINT) AS {out}"
                f" FROM {src} CROSS JOIN (SELECT GREATEST(MAX(ABS({val})),"
                f" 1) AS m FROM {src})")

    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    d{i} AS MATERIALIZED (
      SELECT b.nid, SUM(b.q * v.v) AS dot
      FROM base b JOIN v{i - 1} v USING (pos) GROUP BY b.nid),
    dn{i} AS MATERIALIZED ({norm(f'd{i}', 'nid', 'dot', 'd')}),
    w{i} AS MATERIALIZED (
      SELECT b.pos, SUM(b.q * d.d) AS w
      FROM base b JOIN dn{i} d USING (nid) GROUP BY b.pos),
    v{i} AS MATERIALIZED ({norm(f'w{i}', 'pos', 'w', 'v')})"""
    prefix = f"""
    WITH base AS MATERIALIZED (
      SELECT nid, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {{'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * CAST({Q} AS DOUBLE)) AS BIGINT)}})
                 AS pairs
        FROM embeddings)),
    v0 AS MATERIALIZED (
      SELECT DISTINCT pos, CAST({V} AS BIGINT) AS v FROM base){iters}"""
    return (prefix
            + f"\n    SELECT CAST(pos AS BIGINT) AS pos, v FROM v{n_iters}\n")


def _power_iter_cte(n_iters: int = 3) -> str:
    """The WITH-prefix of :func:`_power_iter_oracle` (base + v0..vN CTEs,
    no final SELECT) for oracles that post-process the converged
    direction."""
    full = _power_iter_oracle(n_iters)
    return full[: full.rindex("SELECT")]


@query("power_iteration", _power_iter_oracle(), eager=True)
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding second-moment matrix
    by 3 rounds of deterministic fixed-point power iteration (exact
    int64; truncating division spelled identically in both engines) —
    the embedding-space collapse/whitening audit. See
    functions/similarity.power_iteration."""
    out = similarity.power_iteration(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select(F.col("pos").cast("bigint").alias("pos"), "v")


@query(
    "source_dup_rates",
    """
    WITH d AS (
      SELECT source AS grp, text FROM documents)
    SELECT grp AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS dup_docs,
           CAST((COUNT(*) - COUNT(DISTINCT text)) * 10000 // COUNT(*)
                AS BIGINT) AS dup_bp
    FROM d GROUP BY grp
    """,
)
def q_source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rate (docs, distinct texts, dup share
    in bp) — the recrawl-budget dashboard number; the engine shuffles
    sha256 digests, the oracle counts distinct raw texts (equal modulo
    collisions). See functions/dedup.dup_rates."""
    from ocr_spark.functions.dedup import dup_rates

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return dup_rates(docs, "source", "text")


_SCRIPT_SYNTH_SQL = """
      SELECT doc_id,
             repeat('अआइई ', CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 1 END
                             + CAST(doc_id % 3 AS INTEGER))
             || repeat('汉字文本 ', CASE WHEN doc_id % 5 = 1 THEN 6 ELSE 1 END)
             || repeat('текст ', CASE WHEN doc_id % 5 = 2 THEN 6 ELSE 1 END
                                 + CAST(doc_id % 2 AS INTEGER))
             || repeat('word ', CASE WHEN doc_id % 5 = 3 THEN 6 ELSE 1 END)
             || repeat('7', 1 + CAST(doc_id % 4 AS INTEGER)) AS t
      FROM documents
"""


@query(
    "script_mix",
    f"""
    WITH synth AS ({_SCRIPT_SYNTH_SQL}),
    counted AS (
      SELECT doc_id,
             length(t) AS total,
             length(t) - length(regexp_replace(t, '\\p{{Devanagari}}', '', 'g')) AS deva_chars,
             length(t) - length(regexp_replace(t, '\\p{{Han}}', '', 'g')) AS han_chars,
             length(t) - length(regexp_replace(t, '\\p{{Cyrillic}}', '', 'g')) AS cyr_chars,
             length(t) - length(regexp_replace(t, '\\p{{Latin}}', '', 'g')) AS latin_chars,
             length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS digit_chars
      FROM synth),
    labeled AS (
      SELECT *,
             total - deva_chars - han_chars - cyr_chars - latin_chars
                   - digit_chars AS other_chars,
             CASE WHEN deva_chars >= han_chars AND deva_chars >= cyr_chars
                       AND deva_chars >= latin_chars THEN 'deva'
                  WHEN han_chars >= cyr_chars
                       AND han_chars >= latin_chars THEN 'han'
                  WHEN cyr_chars >= latin_chars THEN 'cyr'
                  ELSE 'latin' END AS dominant_script
      FROM counted)
    SELECT dominant_script,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(deva_chars) AS BIGINT) AS deva_chars,
           CAST(SUM(han_chars) AS BIGINT) AS han_chars,
           CAST(SUM(cyr_chars) AS BIGINT) AS cyr_chars,
           CAST(SUM(latin_chars) AS BIGINT) AS latin_chars,
           CAST(SUM(digit_chars) AS BIGINT) AS digit_chars,
           CAST(SUM(other_chars) AS BIGINT) AS other_chars
    FROM labeled GROUP BY dominant_script
    """,
)
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus script-composition rollup over deterministic multi-script
    synthetic text: per dominant script, document count and code-point
    totals per script class. The pre-language-ID routing signal and the
    crawler-config regression alarm (a corpus-level script-share jump
    means the fetcher's charset/seed mix changed). See
    functions/curation.script_counts; one projection + one small agg."""
    from ocr_spark.functions.curation import script_counts

    k = F.col("doc_id")
    m = k % 5
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.expr("repeat('अआइई ', CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 1"
                   " END + CAST(doc_id % 3 AS INT))"),
            F.expr("repeat('汉字文本 ', CASE WHEN doc_id % 5 = 1 THEN 6"
                   " ELSE 1 END)"),
            F.expr("repeat('текст ', CASE WHEN doc_id % 5 = 2 THEN 6 ELSE 1"
                   " END + CAST(doc_id % 2 AS INT))"),
            F.expr("repeat('word ', CASE WHEN doc_id % 5 = 3 THEN 6 ELSE 1"
                   " END)"),
            F.expr("repeat('7', 1 + CAST(doc_id % 4 AS INT))"),
        ).alias("t"),
    )
    return (
        script_counts(synth, "t")
        .groupBy("dominant_script")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("deva_chars").cast("bigint").alias("deva_chars"),
            F.sum("han_chars").cast("bigint").alias("han_chars"),
            F.sum("cyr_chars").cast("bigint").alias("cyr_chars"),
            F.sum("latin_chars").cast("bigint").alias("latin_chars"),
            F.sum("digit_chars").cast("bigint").alias("digit_chars"),
            F.sum("other_chars").cast("bigint").alias("other_chars"),
        )
    )


@query(
    "sitemap_coverage",
    """
    WITH sm AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '/p'
                 || CAST(doc_id AS VARCHAR) AS url
      FROM documents WHERE doc_id % 3 <> 2),
    cr AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '/p'
                 || CAST(doc_id AS VARCHAR) AS url
      FROM documents WHERE doc_id % 2 = 0 OR doc_id % 5 = 0),
    j AS (
      SELECT COALESCE(sm.host, cr.host) AS host,
             CASE WHEN sm.url IS NOT NULL THEN 1 ELSE 0 END AS in_sm,
             CASE WHEN cr.url IS NOT NULL THEN 1 ELSE 0 END AS in_cr
      FROM sm FULL OUTER JOIN cr ON sm.url = cr.url)
    SELECT host,
           CAST(SUM(in_sm) AS BIGINT) AS n_sitemap,
           CAST(SUM(in_cr) AS BIGINT) AS n_crawled,
           CAST(SUM(in_sm * in_cr) AS BIGINT) AS n_both,
           CAST(SUM(in_sm * in_cr) * 10000 // SUM(in_sm) AS BIGINT)
               AS coverage_bp,
           CAST(SUM(in_cr * (1 - in_sm)) AS BIGINT) AS n_orphans
    FROM j GROUP BY host
    """,
)
def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl coverage diff per host over deterministic
    synthetic URL sets: how much of each host's sitemap was actually
    fetched (coverage_bp) and how many fetched pages the sitemap never
    listed (orphans — the crawler-trap / infinite-calendar signal).
    One url-keyed full outer join + a host agg; at corpus scale both
    sides shuffle on url once and AQE handles host skew."""
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    url = F.concat(host, F.lit("/p"), F.col("doc_id").cast("string"))
    sm = docs.filter(F.col("doc_id") % 3 != 2).select(
        host.alias("host"), url.alias("url"))
    cr = docs.filter((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 5 == 0)
                     ).select(host.alias("host"), url.alias("url"))
    j = (
        sm.alias("sm").join(cr.alias("cr"),
                            F.col("sm.url") == F.col("cr.url"), "full_outer")
        .select(
            F.coalesce(F.col("sm.host"), F.col("cr.host")).alias("host"),
            F.when(F.col("sm.url").isNotNull(), 1).otherwise(0).alias("in_sm"),
            F.when(F.col("cr.url").isNotNull(), 1).otherwise(0).alias("in_cr"),
        )
    )
    return (
        j.groupBy("host")
        .agg(
            F.sum("in_sm").cast("bigint").alias("n_sitemap"),
            F.sum("in_cr").cast("bigint").alias("n_crawled"),
            F.sum(F.col("in_sm") * F.col("in_cr")).cast("bigint")
            .alias("n_both"),
            F.expr("CAST(SUM(in_sm * in_cr) * 10000"
                   " div SUM(in_sm) AS BIGINT)").alias("coverage_bp"),
            F.sum(F.col("in_cr") * (1 - F.col("in_sm"))).cast("bigint")
            .alias("n_orphans"),
        )
    )


@query(
    "axis_share",
    _power_iter_cte() + """SELECT
      CAST((SELECT COUNT(DISTINCT nid) FROM base) AS BIGINT) AS n_vecs,
      CAST((SELECT COUNT(*) FROM v3) AS BIGINT) AS n_dims,
      CAST(FLOOR(10000.0 * (
        CAST((SELECT SUM(d.dot * d.dot) FROM (
                SELECT SUM(b.q * v.v) AS dot
                FROM base b JOIN v3 v USING (pos) GROUP BY b.nid) d)
             AS DOUBLE)
        / (CAST((SELECT SUM(v * v) FROM v3) AS DOUBLE)
           * CAST((SELECT SUM(q * q) FROM base) AS DOUBLE))))
      AS BIGINT) AS share_bp
    """,
    eager=True,
)
def q_axis_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of total embedding second-moment mass carried by the
    dominant principal axis, in basis points: the Rayleigh quotient of
    the power-iteration direction over trace(X^T X). share_bp near
    10000 = representation collapse; near 10000/dim = isotropic. Sums
    are exact (DECIMAL(38) squares, order-free); the one final division
    is a single scalar double op spelled identically in both engines.
    Plan: power_iteration's zero-reshuffle rounds, then one broadcast
    join + two aggs over the quantized form. See
    functions/similarity.axis_share."""
    return similarity.axis_share(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_iters=3)


@query(
    "politeness_schedule",
    """
    WITH f AS (
      SELECT 'h' || CAST(user_id % 19 AS VARCHAR) AS h,
             epoch_us(ts) AS arr, event_id AS ord,
             (user_id % 5 + 1) * 1000000 AS d
      FROM events),
    s AS (
      SELECT h, arr,
             MAX(d) OVER (PARTITION BY h) AS d,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY arr, ord) - 1 AS seq
      FROM f),
    r AS (
      SELECT h, arr,
             seq * d + MAX(arr - seq * d) OVER (
               PARTITION BY h ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sched
      FROM s)
    SELECT h AS host,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(SUM(sched - arr) AS BIGINT) AS total_wait_micros,
           CAST(MAX(sched - arr) AS BIGINT) AS max_wait_micros,
           CAST(MAX(sched) AS BIGINT) AS finish_micros
    FROM r GROUP BY h
    """,
)
def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl politeness queueing report: the sequential
    sched_k = max(arr_k, sched_{k-1} + d) recurrence solved as one
    running window max (closed form k*d + max(arr_j - j*d)) — no loop,
    exact BIGINT micros. See functions/curation.politeness_schedule."""
    from ocr_spark.functions.curation import politeness_schedule

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 19).cast("string"))
        .alias("host"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("arr"),
        F.col("event_id").alias("ord"),
        ((F.col("user_id") % 5 + 1) * 1000000).alias("d"),
    )
    return politeness_schedule(ev, "host", "arr", "ord", "d")


@query(
    "markdown_strip",
    """
    WITH synth AS (
      SELECT doc_id,
             '# Head ' || CAST(doc_id AS VARCHAR) || chr(10)
             || '> note' || chr(10)
             || 'See [link ' || CAST(doc_id AS VARCHAR)
             || '](http://h' || CAST(doc_id % 7 AS VARCHAR) || '/p) and '
             || '![pic](img.png) `code' || CAST(doc_id AS VARCHAR)
             || '` **bold** *it*' || chr(10) || '---' || chr(10)
             || substr(text, 1, 50 + CAST(doc_id % 40 AS INTEGER)) AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(t,
             '```[^`]*```', ' ', 'g'),
             '`([^`]*)`', '\\1', 'g'),
             '!\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '(^|\\n)#{1,6}[ \\t]*', '\\1', 'g'),
             '\\*\\*([^*]*)\\*\\*', '\\1', 'g'),
             '\\*([^*]*)\\*', '\\1', 'g'),
             '(^|\\n)>[ \\t]*', '\\1', 'g'),
             '(^|\\n)[-*_]{3,}[ \\t]*(\\n|$)', '\\1', 'g') AS stripped,
           CAST(len(str_split(t, '](')) - 1 AS BIGINT) AS n_links,
           CAST(len(regexp_split_to_array(t, '(^|\\n)#{1,6}[ \\t]')) - 1
                AS BIGINT) AS n_headers,
           CAST(length(t) AS BIGINT) AS md_len,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(t,
             '```[^`]*```', ' ', 'g'),
             '`([^`]*)`', '\\1', 'g'),
             '!\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '(^|\\n)#{1,6}[ \\t]*', '\\1', 'g'),
             '\\*\\*([^*]*)\\*\\*', '\\1', 'g'),
             '\\*([^*]*)\\*', '\\1', 'g'),
             '(^|\\n)>[ \\t]*', '\\1', 'g'),
             '(^|\\n)[-*_]{3,}[ \\t]*(\\n|$)', '\\1', 'g'))
           AS BIGINT) AS txt_len
    FROM synth
    """,
)
def q_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown→plain-text strip over deterministic synthetic markdown
    wrapping each document's text: links/images reduce to their anchor
    text, headers/emphasis/quotes/rules drop, code spans unwrap. Pure
    codegen'd regex projection. See functions/curation.markdown_strip."""
    from ocr_spark.functions.curation import markdown_strip

    d = F.col("doc_id").cast("string")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("# Head "), d, F.lit("\n> note\nSee [link "), d,
            F.lit("](http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit("/p) and ![pic](img.png) `code"), d,
            F.lit("` **bold** *it*\n---\n"),
            F.expr("substr(text, 1, 50 + CAST(doc_id % 40 AS INT))"),
        ).alias("t"),
    )
    out = markdown_strip(synth, "t")
    return out.select("doc_id", "stripped", "n_links", "n_headers",
                      "md_len", "txt_len")


@query(
    "cdc_chunks",
    """
    WITH words AS (
      SELECT doc, u.pos, u.w FROM (
        SELECT doc_id AS doc,
               list_transform(
                 generate_series(0, len(ws) - 1),
                 i -> {'pos': i, 'w': ws[i + 1]}) AS pairs
        FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
              FROM documents)),
      LATERAL unnest(pairs) AS t(u)
      WHERE u.w <> ''),
    marked AS (
      SELECT doc, pos, w,
             CASE WHEN pos = 0 OR
                  ('0x' || substr(md5(w), 1, 15))::BIGINT % 8 = 0
                  THEN 1 ELSE 0 END AS b
      FROM words),
    numbered AS (
      SELECT doc, pos, w,
             SUM(b) OVER (PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
      FROM marked),
    chunks AS (
      SELECT doc, chunk, COUNT(*) AS n_words,
             md5(string_agg(w, ' ' ORDER BY pos)) AS fp
      FROM numbered GROUP BY doc, chunk),
    df AS (
      SELECT fp, COUNT(DISTINCT doc) AS ndocs FROM chunks GROUP BY fp)
    SELECT c.doc AS doc_id,
           CAST(SUM(c.n_words) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_chunks
    FROM chunks c JOIN df ON df.fp = c.fp
    GROUP BY c.doc
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of every document (md5-gated word
    boundaries) with cross-document chunk-sharing counts — the
    incremental-dedup unit audit. See functions/dedup.cdc_chunks."""
    from ocr_spark.functions.dedup import cdc_chunks

    return cdc_chunks(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", mask=8)


# decomposed e + U+0301, then precomposed U+00E9
_NFC_SUFFIX = ([" cafe\u0301"], [" caf\u00e9"], [""])


@query(
    "nfc_audit",
    f"""
    WITH synth AS (
      SELECT source,
             substr(text, 1, 30)
             || {case_sql('doc_id', _NFC_SUFFIX)} AS t
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t <> nfc_normalize(t) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_drifted,
           CAST(SUM(length(t)) AS BIGINT) AS chars_raw,
           CAST(SUM(length(nfc_normalize(t))) AS BIGINT) AS chars_nfc
    FROM synth GROUP BY source
    """,
)
def q_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-NFC drift per source over synthetic mixed-normalization
    text (every third doc carries a decomposed e+U+0301): docs changed
    by NFC and the code-point delta. The mixed-NFC/NFD gate that
    protects exact dedup. See functions/curation.nfc_audit."""
    from ocr_spark.functions.curation import nfc_audit

    synth = _cpu(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.substring("text", 1, 30),
            case_col(F.col("doc_id"), _NFC_SUFFIX),
        ).alias("t"),
    )
    return nfc_audit(synth, "source", "t")


@query(
    "embedding_outliers",
    """
    WITH base AS MATERIALIZED (
      SELECT nid, grp, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid, label AS grp,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * 1048576.0) AS BIGINT)}) AS pairs
        FROM embeddings)),
    cent AS (
      SELECT pos,
             CASE WHEN SUM(q) >= 0 THEN SUM(q) // COUNT(*)
                  ELSE -((-SUM(q)) // COUNT(*)) END AS c
      FROM base GROUP BY pos),
    d2 AS (
      SELECT b.nid, b.grp, SUM((b.q - c.c) * (b.q - c.c)) AS d2
      FROM base b JOIN cent c USING (pos) GROUP BY b.nid, b.grp),
    tot AS (SELECT SUM(d2) AS sum_d2, COUNT(*) AS n_all FROM d2)
    SELECT CAST(grp AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN 4 * d2 * n_all > 9 * sum_d2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN 4 * d2 * n_all > 9 * sum_d2
                    THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
               AS outlier_bp
    FROM d2 CROSS JOIN tot GROUP BY grp
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: vectors farther than 1.5x the RMS
    distance from the corpus centroid, tested by pure integer
    cross-multiplication (4*d²*N > 9*Σd²) over DECIMAL(38) sums. See
    functions/similarity.embedding_outliers."""
    out = similarity.embedding_outliers(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label")
    return out.select(F.col("label").cast("bigint").alias("label"),
                      "n_vecs", "n_outliers", "outlier_bp")


@query(
    "source_lang_entropy",
    """
    WITH counts AS (
      SELECT source AS g, lang AS k, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    g AS (
      SELECT g, SUM(c) AS n_rows, COUNT(*) AS n_classes,
             SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000)
                          AS BIGINT)) AS sum_clnc
      FROM counts GROUP BY g)
    SELECT g AS source,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_classes AS BIGINT) AS n_classes,
           CAST(CAST(ROUND(LN(CAST(n_rows AS DOUBLE)) * 1000000) AS BIGINT)
                - sum_clnc // n_rows AS BIGINT) AS entropy_micro
    FROM g
    """,
)
def q_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix Shannon entropy per source in exact integer
    micro-nats — the source-purity gate (a 'source' spanning many
    languages is a mis-routed fetcher or translation farm). See
    functions/curation.group_entropy."""
    from ocr_spark.functions.curation import group_entropy

    return group_entropy(
        _t(spark, sf_dir, "documents"), "source", "lang")


_FEED_HOST = (["h", 5],)
_FEED_XML = (
    ['<feed xmlns="http://www.w3.org/2005/Atom"><entry><title>A', _DOC_ID,
     '</title><link href="http://a/', _DOC_ID, '"/><published>2026-01-0',
     ("mod", 9, 1), "</published></entry><entry><title>B", _DOC_ID,
     '</title><link href="http://b/', _DOC_ID, '"/><updated>2026-02-0',
     ("mod", 9, 1), "</updated></entry></feed>"],
    ['<rss version="2.0"><channel><item><title>R', _DOC_ID,
     "</title><link> http://r/", _DOC_ID, " </link><pubDate>Tue 0",
     ("mod", 9, 1), " Jan</pubDate></item><ITEM><TITLE>S", _DOC_ID,
     "</TITLE></ITEM></channel></rss>"],
    ["<html>not a feed ", _DOC_ID, "</html>"],
)


@query(
    "feed_parse",
    f"""
    WITH synth AS (
      SELECT {case_sql('doc_id', _FEED_HOST)} AS host,
             {case_sql('doc_id', _FEED_XML)} AS xml
      FROM documents),
    blocks AS (
      SELECT host,
             CASE WHEN regexp_matches(xml, '(?is)<\\s*feed[\\s>]')
                  THEN 'atom' ELSE 'rss' END AS kind,
             CASE WHEN regexp_matches(xml, '(?is)<\\s*feed[\\s>]')
                  THEN regexp_extract_all(xml,
                    '(?is)<\\s*entry[\\s>](.*?)<\\s*/\\s*entry\\s*>', 1)
                  ELSE regexp_extract_all(xml,
                    '(?is)<\\s*item[\\s>](.*?)<\\s*/\\s*item\\s*>', 1)
             END AS bs
      FROM synth),
    e AS (
      SELECT host, kind, u.pos, u.block FROM (
        SELECT host, kind,
               list_transform(generate_series(0, len(bs) - 1),
                 i -> {{'pos': i, 'block': bs[i + 1]}}) AS pairs
        FROM blocks),
      LATERAL unnest(pairs) AS t(u))
    SELECT host, CAST(pos AS BIGINT) AS pos, kind,
           regexp_extract(block, '(?is)<\\s*title\\s*>\\s*([^<]*?)\\s*<', 1)
               AS title,
           CASE WHEN kind = 'atom' THEN
             regexp_extract(block,
               '(?is)<\\s*link[^>]*href\\s*=\\s*"([^"]*)"', 1)
           ELSE
             regexp_extract(block,
               '(?is)<\\s*link\\s*>\\s*([^<\\s][^<]*?)\\s*<', 1)
           END AS link,
           CASE WHEN kind = 'atom' THEN
             COALESCE(NULLIF(regexp_extract(block,
               '(?is)<\\s*published\\s*>\\s*([^<]*?)\\s*<', 1), ''),
               regexp_extract(block,
                 '(?is)<\\s*updated\\s*>\\s*([^<]*?)\\s*<', 1))
           ELSE
             regexp_extract(block,
               '(?is)<\\s*pubdate\\s*>\\s*([^<]*?)\\s*<', 1)
           END AS published
    FROM e
    WHERE regexp_extract(block,
      '(?is)<\\s*title\\s*>\\s*([^<]*?)\\s*<', 1) <> ''
    """,
)
def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed parsing over deterministic synthetic feeds (an Atom
    feed with/without published, an RSS channel with uppercase tags and
    whitespace-padded links, and a non-feed page yielding zero rows).
    See functions/curation.feed_parse."""
    from ocr_spark.functions.curation import feed_parse

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _FEED_HOST).alias("host"),
        case_col(k, _FEED_XML).alias("xml"))
    return feed_parse(docs, "host", "xml")


@query(
    "hreflang_groups",
    """
    WITH pages AS (
      SELECT doc_id,
             'u' || CAST(doc_id // 4 AS VARCHAR) || '-'
                 || CAST(doc_id % 4 AS VARCHAR) AS url,
             doc_id // 4 AS cl
      FROM documents),
    alts AS (
      SELECT p.url,
             'u' || CAST(p.cl AS VARCHAR) || '-' || CAST(v AS VARCHAR)
                 AS alt_url
      FROM pages p, LATERAL unnest([0, 1, 2, 3]) AS t(v)),
    grouped AS (
      SELECT url, MIN(alt_url) AS cluster_id FROM alts GROUP BY url)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           MIN(url) AS first_url,
           MAX(url) AS last_url
    FROM grouped GROUP BY cluster_id
    """,
)
def q_hreflang_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate-language page grouping from hreflang link clusters:
    pages listing each other as rel=alternate hreflang variants collapse
    to one canonical cluster (min alternate URL). hreflang sets are
    complete cliques by spec — every variant lists all variants — so one
    min-over-alternates pass groups them with NO iterative closure
    (contrast dedup_components, which pays the loop for arbitrary
    graphs; that assumption is the documented contract here). The
    translated-variant analog of mirror_hosts: training pipelines count
    a translated clique once per language, not once per URL.

    Plan: parse hreflang links out of the synthetic head (zero-shuffle
    projection), explode, one (url) agg, one (cluster) agg."""
    k = F.col("doc_id")
    pages = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), (k / 4).cast("bigint").cast("string"),
                 F.lit("-"), (k % 4).cast("string")).alias("url"),
        (k / 4).cast("bigint").alias("cl"),
    )
    # synthesize the <head> block each page serves, then parse it back
    head = pages.select(
        "url",
        F.concat(
            F.lit("<head>"),
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda v: F.concat(
                        F.lit('<link rel="alternate" hreflang="l'),
                        v.cast("string"), F.lit('" href="u'),
                        F.col("cl").cast("string"), F.lit("-"),
                        v.cast("string"), F.lit('"/>')),
                )),
            F.lit("</head>"),
        ).alias("html"),
    )
    alts = head.select(
        "url",
        F.explode(
            F.regexp_extract_all(
                F.col("html"),
                F.lit(r'(?i)<link[^>]*rel="alternate"[^>]*href="([^"]*)"'),
                F.lit(1))).alias("alt_url"),
    )
    grouped = alts.groupBy("url").agg(F.min("alt_url").alias("cluster_id"))
    return (
        grouped.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.min("url").alias("first_url"),
            F.max("url").alias("last_url"),
        )
    )


@query(
    "fetch_status_rollup",
    """
    WITH f AS (
      SELECT 'h' || CAST(user_id % 19 AS VARCHAR) AS host,
             CASE WHEN event_id % 10 <= 5 THEN 200
                  WHEN event_id % 10 = 6 THEN 301
                  WHEN event_id % 10 = 7 THEN 404
                  WHEN event_id % 10 = 8 THEN 500
                  ELSE 304 END AS status,
             (event_id % 997 + 1) * 1000 AS lat
      FROM events),
    hist AS (
      SELECT host, lat, COUNT(*) AS c FROM f GROUP BY host, lat),
    r AS (
      SELECT host, lat, c,
             SUM(c) OVER (PARTITION BY host ORDER BY lat
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY host) AS n
      FROM hist),
    p95 AS (
      SELECT host, MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN lat END)
                 AS p95_lat
      FROM r GROUP BY host)
    SELECT f.host,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(SUM(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2xx,
           CAST(SUM(CASE WHEN status IN (301, 304) THEN 1 ELSE 0 END)
               AS BIGINT) AS c3xx,
           CAST(SUM(CASE WHEN status = 404 THEN 1 ELSE 0 END) AS BIGINT)
               AS c4xx,
           CAST(SUM(CASE WHEN status = 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS c5xx,
           CAST(SUM(CASE WHEN status IN (200, 304) THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS ok_bp,
           CAST(SUM(lat) AS BIGINT) AS lat_sum_micros,
           CAST(MAX(p95.p95_lat) AS BIGINT) AS p95_lat_micros
    FROM f JOIN p95 ON p95.host = f.host
    GROUP BY f.host
    """,
)
def q_fetch_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch-log operations report over deterministic synthetic
    statuses/latencies: status-class counts, success share (2xx + 304),
    latency sum and exact p95 via the value-histogram percentile rule
    (the same rule as winsorize/length_percentiles). The crawl health
    dashboard: a host going 5xx-heavy or p95-slow gets its budget cut
    before it stalls fetch slots. One (host,lat) histogram agg + one
    host agg; the percentile runs on the small histogram."""
    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 19).cast("string"))
        .alias("host"),
        F.when(F.col("event_id") % 10 <= 5, 200)
        .when(F.col("event_id") % 10 == 6, 301)
        .when(F.col("event_id") % 10 == 7, 404)
        .when(F.col("event_id") % 10 == 8, 500)
        .otherwise(304).alias("status"),
        ((F.col("event_id") % 997 + 1) * 1000).alias("lat"),
    )
    hist = ev.groupBy("host", "lat").agg(F.count(F.lit(1)).alias("c"))
    wcum = (Window.partitionBy("host").orderBy("lat")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    p95 = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(Window.partitionBy("host")))
        .groupBy("host")
        .agg(F.min(F.when(
            F.col("cum") >= F.expr("(95 * n + 99) div 100"),
            F.col("lat"))).alias("p95_lat"))
    )
    return (
        ev.join(p95, "host")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
            .cast("bigint").alias("c2xx"),
            F.sum(F.when(F.col("status").isin(301, 304), 1).otherwise(0))
            .cast("bigint").alias("c3xx"),
            F.sum(F.when(F.col("status") == 404, 1).otherwise(0))
            .cast("bigint").alias("c4xx"),
            F.sum(F.when(F.col("status") == 500, 1).otherwise(0))
            .cast("bigint").alias("c5xx"),
            F.expr("CAST(SUM(CASE WHEN status IN (200, 304) THEN 1 ELSE 0"
                   " END) * 10000 div COUNT(*) AS BIGINT)").alias("ok_bp"),
            F.sum("lat").cast("bigint").alias("lat_sum_micros"),
            F.max("p95_lat").cast("bigint").alias("p95_lat_micros"),
        )
    )


_SCRIPT_RUN_SYNTH = (
    "CASE WHEN doc_id % 4 = 0 THEN 'one देव two слово 汉 three'"
    " WHEN doc_id % 4 = 1 THEN 'अआ इई उऊ ' || substr(text, 1, 20)"
    " WHEN doc_id % 4 = 2 THEN substr(text, 1, 40)"
    " ELSE '7 word семь 77 слово' END"
)


@query(
    "script_runs",
    f"""
    WITH synth AS (
      SELECT doc_id, {_SCRIPT_RUN_SYNTH} AS t FROM documents),
    cls AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(t, '\\s+'), w -> w <> ''),
               w -> CASE
                 WHEN regexp_matches(w[1], '\\p{{Devanagari}}') THEN 'deva'
                 WHEN regexp_matches(w[1], '\\p{{Han}}') THEN 'han'
                 WHEN regexp_matches(w[1], '\\p{{Cyrillic}}') THEN 'cyr'
                 WHEN regexp_matches(w[1], '[0-9]') THEN 'digit'
                 WHEN regexp_matches(w[1], '\\p{{Latin}}') THEN 'latin'
                 ELSE 'other' END) AS cs
      FROM synth)
    SELECT doc_id,
           CAST(len(cs) AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(
             [CASE WHEN cs[i] <> cs[i + 1] THEN 1 ELSE 0 END
              for i in generate_series(1, len(cs) - 1)]), 0) AS BIGINT)
               AS n_switches
    FROM cls
    """,
)
def q_script_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document script-switch count (code-switching detector) over
    deterministic multi-script synthetic text: classify each word by its
    first code point's script, count adjacent-class transitions. A high
    switch rate flags spam keyword-stuffing and broken-encoding pages
    that per-corpus script shares (script_mix) can't see. Zero shuffle:
    split + two HOF passes (transform classes, zip_with shifted slices)
    fused into the scan projection."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SCRIPT_RUN_SYNTH).alias("t"))
    words = F.filter(F.split(F.col("t"), r"\s+"), lambda w: w != "")
    first = lambda w: F.substring(w, 1, 1)  # noqa: E731
    cls = F.transform(
        words,
        lambda w: F.when(first(w).rlike(r"\p{IsDevanagari}"), "deva")
        .when(first(w).rlike(r"\p{IsHan}"), "han")
        .when(first(w).rlike(r"\p{IsCyrillic}"), "cyr")
        .when(first(w).rlike("[0-9]"), "digit")
        .when(first(w).rlike(r"\p{IsLatin}"), "latin")
        .otherwise("other"),
    )
    docs = docs.select("doc_id", cls.alias("cs"))
    n = F.size("cs")
    switches = F.aggregate(
        F.zip_with(
            F.slice(F.col("cs"), 1, n - 1),
            F.slice(F.col("cs"), 2, n - 1),
            lambda a, b: F.when(a != b, 1).otherwise(0),
        ),
        F.lit(0), lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        F.when(n > 1, switches).otherwise(0).cast("bigint")
        .alias("n_switches"),
    )


_TOK_HOST = (["h", 11],)
_TOK = (["p", _DOC_ID],) * 3 + (["p", 5],) * 8


@query(
    "url_token_entropy",
    f"""
    WITH toks AS (
      SELECT {case_sql('doc_id', _TOK_HOST)} AS host,
             {case_sql('doc_id', _TOK)} AS tok
      FROM documents),
    counts AS (
      SELECT host AS g, tok AS k, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    g AS (
      SELECT g, SUM(c) AS n_rows, COUNT(*) AS n_classes,
             SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000)
                          AS BIGINT)) AS sum_clnc
      FROM counts GROUP BY g)
    SELECT g AS host,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_classes AS BIGINT) AS n_classes,
           CAST(CAST(ROUND(LN(CAST(n_rows AS DOUBLE)) * 1000000) AS BIGINT)
                - sum_clnc // n_rows AS BIGINT) AS entropy_micro
    FROM g
    """,
)
def q_url_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-token entropy per host over synthetic URL tokens (three
    'trap' hosts mint a unique token per page, the rest reuse five):
    near-maximal entropy = infinite-URL-space crawler trap (calendars,
    session ids), low entropy = a real site template. Reuses
    functions/curation.group_entropy — two keyed aggs, no windows."""
    from ocr_spark.functions.curation import group_entropy

    k = F.col("doc_id")
    toks = _t(spark, sf_dir, "documents").select(
        case_col(k, _TOK_HOST).alias("host"), case_col(k, _TOK).alias("tok"))
    return group_entropy(toks, "host", "tok")


_NDCG_DISCOUNTS = [1000000, 630930, 500000, 430677, 386853,
                   356207, 333333, 315465, 301030, 289065]


@query(
    "bm25_ndcg",
    f"""
    WITH base AS (
      SELECT doc_id AS doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END
                 AS words
      FROM documents),
    rel AS (
      SELECT doc,
             CAST(list_contains(words, 'spark') AS INTEGER)
             + CAST(list_contains(words, 'window') AS INTEGER)
             + CAST(list_contains(words, 'merge') AS INTEGER) AS rel
      FROM base),
    d AS (SELECT unnest([{", ".join(
        f"{{'rank': {i + 1}, 'disc': {d}}}"
        for i, d in enumerate(_NDCG_DISCOUNTS))}], recursive := true)),
    docs AS (SELECT doc, CAST(len(words) AS BIGINT) AS dl FROM base),
    tot AS (SELECT COUNT(*) AS n,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM docs),
    flat AS (SELECT doc, w FROM (SELECT doc, unnest(words) AS w FROM base)
             WHERE w IN ('spark', 'window', 'merge')),
    tf AS (SELECT doc, w, COUNT(*) AS tf FROM flat GROUP BY doc, w),
    dfq AS (SELECT w, COUNT(*) AS dfq FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc, tf.w,
             LN(1.0 + (CAST(tot.n AS DOUBLE) - dfq.dfq + 0.5)
                      / (dfq.dfq + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(docs.dl AS DOUBLE) / tot.avgdl))
                 AS s
      FROM tf JOIN docs USING (doc) JOIN dfq USING (w) CROSS JOIN tot),
    p AS (SELECT doc,
                 COALESCE(MAX(CASE WHEN w = 'spark' THEN s END), 0)
                 + COALESCE(MAX(CASE WHEN w = 'window' THEN s END), 0)
                 + COALESCE(MAX(CASE WHEN w = 'merge' THEN s END), 0) AS s
          FROM scored GROUP BY doc),
    ranked AS (
      SELECT doc, ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC, doc) AS rk
      FROM p),
    dcg AS (
      SELECT SUM(rel.rel * d.disc) AS dcg_micro
      FROM ranked JOIN rel USING (doc) JOIN d ON d.rank = ranked.rk
      WHERE ranked.rk <= 10),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc) AS rk
      FROM rel),
    idcg AS (
      SELECT SUM(ideal.rel * d.disc) AS idcg_micro
      FROM ideal JOIN d ON d.rank = ideal.rk WHERE ideal.rk <= 10)
    SELECT CAST(dcg_micro AS BIGINT) AS dcg_micro,
           CAST(idcg_micro AS BIGINT) AS idcg_micro,
           CAST(dcg_micro * 10000 // idcg_micro AS BIGINT) AS ndcg_bp
    FROM dcg CROSS JOIN idcg
    """,
)
def q_bm25_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking against a deterministic relevance
    oracle (rel = number of distinct query terms a document contains,
    0-3): the retrieval-quality eval for the index layer, exact to the
    last integer (log2 position discounts pre-quantized to micro-units
    as shared literal tables, DCG/IDCG as integer sums, final ratio a
    truncating integer division). Plan: bm25_topk's scan-fused
    term-filtered stats + two small ranked joins."""
    from ocr_spark.functions.curation import bm25_topk

    docs = _cpu(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    rel = docs.select(
        F.col("doc_id").alias("doc"),
        (F.array_contains(words, "spark").cast("int")
         + F.array_contains(words, "window").cast("int")
         + F.array_contains(words, "merge").cast("int")).alias("rel"),
    )
    disc = F.array(*[F.lit(d) for d in _NDCG_DISCOUNTS])
    top = bm25_topk(docs, "doc_id", "text",
                    terms=("spark", "window", "merge"), k=10)
    dcg = (
        top.join(rel, "doc")
        .select((F.col("rel")
                 * F.element_at(disc, F.col("rank").cast("int"))).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("dcg_micro"))
    )
    w = Window.orderBy(F.desc("rel"), F.asc("doc"))
    idcg = (
        rel.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select((F.col("rel")
                 * F.element_at(disc, F.col("rk").cast("int"))).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("idcg_micro"))
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "dcg_micro", "idcg_micro",
        F.expr("CAST(dcg_micro * 10000 div idcg_micro AS BIGINT)")
        .alias("ndcg_bp"),
    )


def _jl_sign_sql() -> str:
    return ("CASE WHEN CAST(('0x' || substr(md5(CAST(pos AS VARCHAR)"
            " || '|' || CAST(p AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0"
            " THEN 1 ELSE -1 END")


@query(
    "jl_distortion",
    f"""
    WITH base AS MATERIALIZED (
      SELECT nid, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {{'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * 1048576.0) AS BIGINT)}}) AS pairs
        FROM embeddings)),
    probe AS (
      SELECT nid AS a, nid + 1 AS b FROM (SELECT DISTINCT nid FROM base)
      WHERE nid < 50),
    d_orig AS (
      SELECT p.a, p.b, SUM((l.q - r.q) * (l.q - r.q)) AS d2_orig
      FROM probe p
      JOIN base l ON l.nid = p.a
      JOIN base r ON r.nid = p.b AND r.pos = l.pos
      GROUP BY p.a, p.b),
    fan AS (
      SELECT nid, pos, q, p
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p)),
    proj AS (
      SELECT nid, p, SUM(q * {_jl_sign_sql()}) AS y
      FROM fan GROUP BY nid, p),
    d_proj AS (
      SELECT pr.a, pr.b, SUM((l.y - r.y) * (l.y - r.y)) AS d2_proj
      FROM probe pr
      JOIN proj l ON l.nid = pr.a
      JOIN proj r ON r.nid = pr.b AND r.p = l.p
      GROUP BY pr.a, pr.b)
    SELECT CAST(o.a AS BIGINT) AS qid_a, CAST(o.b AS BIGINT) AS qid_b,
           CAST(CASE WHEN o.d2_orig = 0 THEN NULL
                ELSE j.d2_proj * 10000 // (16 * o.d2_orig) END AS BIGINT)
               AS ratio_bp
    FROM d_orig o JOIN d_proj j ON j.a = o.a AND j.b = o.b
    """,
)
def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→16 projection with measured (not assumed)
    distortion on 50 probe pairs: d²_proj/(16·d²_orig) in basis points,
    10000 = the JL expectation. The dimensionality-reduction front end
    that makes every downstream similarity shuffle 4× lighter. See
    functions/similarity.jl_project / jl_distortion."""
    return similarity.jl_distortion(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        out_dim=16, n_pairs=50)


_MIX_BUDGET = 2000


@query(
    "mix_solver",
    f"""
    WITH srcs AS (
      SELECT source AS src,
             CAST(SUM(n_chars) // (1 + length(source) % 5) AS BIGINT)
                 AS avail
      FROM documents GROUP BY source),
    a0 AS (
      SELECT src, avail, CAST(0 AS BIGINT) AS alloc,
             CAST({_MIX_BUDGET} AS BIGINT) AS leftover
      FROM srcs),
    s1 AS (SELECT MAX(leftover) AS lo,
                  SUM(CASE WHEN alloc < avail THEN 1 ELSE 0 END) AS n_open
           FROM a0),
    b1 AS (SELECT src, avail,
                  alloc + LEAST(avail - alloc,
                    CASE WHEN alloc < avail
                         THEN lo // GREATEST(n_open, 1) ELSE 0 END) AS alloc
           FROM a0 CROSS JOIN s1),
    a1 AS (SELECT src, avail, alloc,
                  {_MIX_BUDGET} - (SELECT SUM(alloc) FROM b1) AS leftover
           FROM b1),
    s2 AS (SELECT MAX(leftover) AS lo,
                  SUM(CASE WHEN alloc < avail THEN 1 ELSE 0 END) AS n_open
           FROM a1),
    b2 AS (SELECT src, avail,
                  alloc + LEAST(avail - alloc,
                    CASE WHEN alloc < avail
                         THEN lo // GREATEST(n_open, 1) ELSE 0 END) AS alloc
           FROM a1 CROSS JOIN s2),
    a2 AS (SELECT src, avail, alloc,
                  {_MIX_BUDGET} - (SELECT SUM(alloc) FROM b2) AS leftover
           FROM b2),
    s3 AS (SELECT MAX(leftover) AS lo,
                  SUM(CASE WHEN alloc < avail THEN 1 ELSE 0 END) AS n_open
           FROM a2),
    b3 AS (SELECT src, avail,
                  alloc + LEAST(avail - alloc,
                    CASE WHEN alloc < avail
                         THEN lo // GREATEST(n_open, 1) ELSE 0 END) AS alloc
           FROM a2 CROSS JOIN s3)
    SELECT src AS source, avail, CAST(alloc AS BIGINT) AS alloc,
           CAST(alloc >= avail AS INTEGER) AS capped
    FROM b3
    """,
)
def q_mix_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix waterfilling: allocate a fixed token budget across
    sources with per-source availability caps (heterogenized
    deterministically), equal-share + redistribute for 3 rounds. See
    functions/curation.mix_solver."""
    from ocr_spark.functions.curation import mix_solver

    srcs = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.expr(
            "CAST(SUM(n_chars) div (1 + length(source) % 5) AS BIGINT)")
            .alias("avail"))
    )
    return mix_solver(srcs, "source", "avail", budget=_MIX_BUDGET, rounds=3)


def _seed_pagerank_oracle(n_iters: int = 3) -> str:
    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    r{i} AS (
      SELECT nd.node,
             CAST(nd.is_seed * (15000000000 // (100 * t.ns))
                  + COALESCE(c.c, 0) AS BIGINT) AS rank
      FROM marked nd CROSS JOIN ns t
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((p.rank * 85) // (100 * od.od)) AS BIGINT) AS c
        FROM r{i - 1} p JOIN e ON e.src = p.node JOIN od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nd.node)"""
    return f"""
    WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
    raw AS (SELECT node, unnest(generate_series(1, 1 + node % 3)) AS j
            FROM nodes),
    e AS (SELECT DISTINCT node AS src, (node * 13 + j * 29) % 100 AS dst
          FROM raw WHERE (node * 13 + j * 29) % 100 != node),
    marked AS (SELECT node,
                      CASE WHEN node % 10 = 0 THEN 1 ELSE 0 END AS is_seed
               FROM nodes),
    ns AS (SELECT SUM(is_seed) AS ns FROM marked),
    od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(is_seed * (1000000000 // t.ns) AS BIGINT)
                      AS rank
           FROM marked CROSS JOIN ns t){iters}
    SELECT node, rank FROM r{n_iters}
    """


@query("seed_pagerank", _seed_pagerank_oracle())
def q_seed_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the node%10==0 seed set over the shared
    100-host link graph: teleport mass returns to the seeds, so rank is
    importance-as-seen-from-trusted-hubs — the crawl-frontier
    prioritizer. Unreachable hosts end at exactly 0. See
    functions/graph.personalized_pagerank."""
    from ocr_spark.functions.graph import personalized_pagerank

    edges = _host_edges(spark, sf_dir)
    seeds = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct().filter(F.col("node") % 10 == 0)
    return personalized_pagerank(edges, seeds, n_iters=3)


@query(
    "quality_auc",
    """
    WITH scored AS (
      SELECT CAST(n_chars AS BIGINT) AS s,
             CASE WHEN list_contains(
               string_split_regex(lower(trim(text)), '\\s+'), 'the')
               THEN 1 ELSE 0 END AS y
      FROM documents),
    hist AS (
      SELECT s, COUNT(*) AS c_all, SUM(y) AS c_pos
      FROM scored GROUP BY s),
    r AS (
      SELECT s, c_all, c_pos,
             SUM(c_all) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM hist),
    agg AS (
      SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
             CAST(SUM(c_all) - SUM(c_pos) AS BIGINT) AS n_neg,
             CAST(SUM(c_pos * (2 * (cum - c_all) + c_all + 1)) AS BIGINT)
                 AS r2
      FROM r)
    SELECT n_pos, n_neg,
           CAST((10000 * (r2 - n_pos * (n_pos + 1)))
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp
    FROM agg
    """,
)
def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC (Mann-Whitney rank sum, zero floats) of
    document length as a predictor of containing the stopword 'the' —
    the eval primitive for every scorer in the pipeline. See
    functions/curation.roc_auc."""
    from ocr_spark.functions.curation import roc_auc

    scored = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"),
        F.array_contains(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "the")
        .cast("int").alias("y"),
    )
    return roc_auc(scored, "s", "y")


@query(
    "best_span",
    """
    WITH words AS (
      SELECT doc, u.pos, length(u.w) - 3 AS sc FROM (
        SELECT doc_id AS doc,
               list_transform(generate_series(0, len(ws) - 1),
                 i -> {'pos': i, 'w': ws[i + 1]}) AS pairs
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 w -> w <> '') AS ws
              FROM documents)),
      LATERAL unnest(pairs) AS t(u)),
    pfx AS (
      SELECT doc, pos, sc,
             SUM(sc) OVER (PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      FROM words),
    lo AS (
      SELECT doc, pos, pre,
             MIN(pre) OVER (PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS minb
      FROM pfx),
    best AS (
      SELECT doc,
             MAX(pre - LEAST(COALESCE(minb, 0), 0)) AS raw,
             COUNT(*) AS n_words
      FROM lo GROUP BY doc)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(GREATEST(raw, 0) AS BIGINT) AS best_score
    FROM best
    """,
)
def q_best_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best contiguous word-span score per document (Kadane's maximum
    subarray, empty floor 0) as one zero-shuffle codegen'd fold — the
    quality-spine extractor. The DuckDB twin proves the same integers
    via the prefix-sum window formulation. See
    functions/curation.best_span."""
    from ocr_spark.functions.curation import best_span

    return best_span(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


def _label_leak_oracle() -> str:
    bsql = ORACLE["lsh_buckets"]
    cos = ("list_aggregate(list_transform(list_zip(a.nvec, b.nvec),"
           " p -> p[1]*p[2]), 'sum')"
           " / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x),"
           " 'sum'))"
           " * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x),"
           " 'sum')))")
    return f"""
    WITH bk AS ({bsql}),
    base AS (
      SELECT vec_id AS nid, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec,
             b.bucket
      FROM embeddings e JOIN bk b ON e.vec_id = b.doc)
    SELECT a.nid AS doc_a, b.nid AS doc_b,
           CAST(a.label AS BIGINT) AS label_a,
           CAST(b.label AS BIGINT) AS label_b,
           ROUND({cos}, 6) AS cos
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.nid < b.nid
    WHERE a.label <> b.label AND ROUND({cos}, 6) >= CAST(0.3 AS DOUBLE)
    """


@query("label_leakage_pairs", _label_leak_oracle())
def q_label_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-label near-duplicates: sign-LSH bucket join, exact cosine
    within buckets, kept only when the two sides carry DIFFERENT labels
    — the classifier-training consistency audit (near-identical content
    labeled two ways poisons both eval trust and training). Same
    bucketed plan as embedding_near_dup: shuffle key is the bucket,
    never an all-pairs join."""
    emb = _cpu(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "vec_id", "embedding")
    base = emb.select(
        F.col("vec_id").alias("nid"), "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("nvec"),
    ).join(buckets.select(F.col("doc").alias("nid"), "bucket"), "nid")
    a = base.select(F.col("nid").alias("doc_a"),
                    F.col("label").alias("label_a"),
                    F.col("nvec").alias("va"), "bucket")
    b = base.select(F.col("nid").alias("doc_b"),
                    F.col("label").alias("label_b"),
                    F.col("nvec").alias("vb"), "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter((F.col("doc_a") < F.col("doc_b"))
                & (F.col("label_a") != F.col("label_b")))
    )
    cos = F.round(similarity.cosine(F.col("va"), F.col("vb")),
                  similarity.ROUND)
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            cos.alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


@query(
    "degree_gini",
    """
    WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
    raw AS (SELECT node, unnest(generate_series(1, 1 + node % 3)) AS j
            FROM nodes),
    e AS (SELECT DISTINCT node AS src, (node * 13 + j * 29) % 100 AS dst
          FROM raw WHERE (node * 13 + j * 29) % 100 != node),
    deg AS (
      SELECT n.node, COALESCE(d.c, 0) AS degree
      FROM nodes n LEFT JOIN
        (SELECT src, COUNT(*) AS c FROM e GROUP BY src) d
        ON d.src = n.node),
    hist AS (SELECT degree AS v, COUNT(*) AS c FROM deg GROUP BY degree),
    r AS (
      SELECT v, c,
             SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                 AS cum_before
      FROM hist),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(v * c) AS BIGINT) AS s,
             CAST(SUM(v * (2 * c * cum_before + c * c + c)) AS BIGINT)
                 AS s2
      FROM r)
    SELECT n, s AS degree_sum,
           CAST((10000 * (s2 - (n + 1) * s)) // (n * s) AS BIGINT)
               AS gini_bp
    FROM agg
    """,
)
def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gini coefficient of the host out-degree distribution
    (0 = every host links equally, →10000 = one hub owns the graph) —
    the one-number inequality summary beside degree_stats, computed on
    the degree HISTOGRAM with doubled rank sums so no float ever
    appears. Windows run over distinct degree values, never nodes."""
    edges = _host_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = (
        nodes.join(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("c")),
            nodes["node"] == F.col("src"), "left")
        .select(F.coalesce("c", F.lit(0)).alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("c"))
    w = (Window.orderBy("degree")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = hist.withColumn("cum_before", F.sum("c").over(w) - F.col("c"))
    agg = r.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("degree") * F.col("c")).cast("bigint").alias("s"),
        F.sum(F.col("degree")
              * (F.lit(2) * F.col("c") * F.col("cum_before")
                 + F.col("c") * F.col("c") + F.col("c")))
        .cast("bigint").alias("s2"),
    )
    return agg.select(
        "n", F.col("s").alias("degree_sum"),
        F.expr("CAST((10000 * (s2 - (n + 1) * s)) div (n * s) AS BIGINT)")
        .alias("gini_bp"),
    )


@query(
    "quantile_align",
    """
    WITH scored AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
    shist AS (
      SELECT source, v, COUNT(*) AS c FROM scored GROUP BY source, v),
    sr AS (
      SELECT source, v, c,
             SUM(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM shist),
    probes AS (
      SELECT source, v, c, cum * 10000 // n AS pct_bp FROM sr),
    ghist AS (
      SELECT v, COUNT(*) AS c FROM scored GROUP BY v),
    gr AS (
      SELECT v, SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 10000 // (SELECT COUNT(*) FROM scored) AS gcum_bp
      FROM ghist),
    u AS (
      SELECT NULL AS source, NULL AS c, v AS gval, gcum_bp AS bp, 0 AS t
      FROM gr
      UNION ALL
      SELECT source, c, NULL, pct_bp, 1 FROM probes),
    m AS (
      SELECT source, c, bp, t,
             MIN(gval) OVER (ORDER BY bp DESC, t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS aligned_v
      FROM u)
    SELECT source,
           CAST(bp AS BIGINT) AS pct_bp,
           CAST(c AS BIGINT) AS n_docs,
           CAST(aligned_v AS BIGINT) AS aligned_v
    FROM m WHERE t = 1
    """,
)
def q_quantile_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of an integer score: each
    source-local histogram value maps to the GLOBAL score at the same
    percentile (smallest global value whose cumulative share reaches the
    source-local share) — the calibration step before comparing quality
    scores across sources with different scales. The inequality lookup
    is the asof-union trick: global histogram rows and source probes
    union into ONE descending-bp window with a running MIN — never an
    inequality join. All windows run over histograms, not docs."""
    scored = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("bigint").alias("v"))
    shist = scored.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    ws = (Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    probes = (
        shist
        .withColumn("cum", F.sum("c").over(ws))
        .withColumn("n", F.sum("c").over(Window.partitionBy("source")))
        .select("source", "c",
                F.expr("cum * 10000 div n").alias("bp"),
                F.lit(1).alias("t"),
                F.lit(None).cast("bigint").alias("gval"))
    )
    tot = scored.agg(F.count(F.lit(1)).alias("nt"))
    ghist = scored.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    wg = (Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grows = (
        ghist.withColumn("gcum", F.sum("c").over(wg))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("bigint").alias("c"),
            F.expr("gcum * 10000 div nt").alias("bp"),
            F.lit(0).alias("t"),
            F.col("v").alias("gval"),
        )
    )
    u = grows.unionByName(probes)
    wm = (Window.orderBy(F.desc("bp"), F.asc("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        u.withColumn("aligned_v", F.min("gval").over(wm))
        .filter(F.col("t") == 1)
        .select(
            "source",
            F.col("bp").cast("bigint").alias("pct_bp"),
            F.col("c").cast("bigint").alias("n_docs"),
            F.col("aligned_v").cast("bigint").alias("aligned_v"),
        )
    )


@query(
    "bot_gap_regularity",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS raw,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS seq
      FROM events),
    arr AS (
      SELECT user_id,
             CASE WHEN user_id % 7 = 0 THEN seq * 1000000 ELSE raw END
                 AS arr,
             seq
      FROM ev),
    gaps AS (
      SELECT user_id,
             arr - LAG(arr) OVER (PARTITION BY user_id ORDER BY seq)
                 AS g
      FROM arr),
    agg AS (
      SELECT user_id,
             COUNT(g) AS n_gaps,
             SUM(g) AS sum_gap,
             SUM(CAST(g AS HUGEINT) * g) AS sum_g2
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id
      HAVING COUNT(g) >= 3)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sum_gap AS BIGINT) AS sum_gap_micros,
           CAST((10000 * (n_gaps * sum_g2
                          - CAST(sum_gap AS HUGEINT) * sum_gap))
                // (CAST(sum_gap AS HUGEINT) * sum_gap) AS BIGINT)
               AS cv2_bp,
           CAST(100 * (n_gaps * sum_g2
                       - CAST(sum_gap AS HUGEINT) * sum_gap)
                < CAST(sum_gap AS HUGEINT) * sum_gap AS INTEGER) AS is_bot
    FROM agg
    """,
)
def q_bot_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-arrival regularity: per user the squared
    coefficient of variation of event gaps in basis points
    (cv2_bp = 10000·(n·Σg² - (Σg)²)/(Σg)²; machines metronome near 0,
    humans burst high) and an is_bot flag at CV < 0.1, tested by pure
    integer cross-multiplication — the decimal sums never meet a float.
    Synthetic bots (user_id % 7 == 0) get exactly regular gaps and must
    flag. One user-keyed window pass + one user agg; the variance
    identity n·Σg² - (Σg)² needs no second mean pass."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("raw"),
    )
    wseq = Window.partitionBy("user_id").orderBy("raw", "event_id")
    arr = ev.withColumn("seq", F.row_number().over(wseq)).select(
        "user_id", "seq",
        F.when(F.col("user_id") % 7 == 0,
               F.col("seq").cast("bigint") * 1000000)
        .otherwise(F.col("raw")).alias("arr"),
    )
    wl = Window.partitionBy("user_id").orderBy("seq")
    gaps = arr.select(
        "user_id",
        (F.col("arr") - F.lag("arr").over(wl)).alias("g"),
    ).filter(F.col("g").isNotNull())
    agg = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("g").cast("bigint").alias("sum_gap"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
            .alias("sum_g2"),
        )
        .filter(F.col("n_gaps") >= 3)
    )
    var_num = F.expr("n_gaps * sum_g2 - CAST(sum_gap AS DECIMAL(38,0))"
                     " * sum_gap")
    return agg.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "n_gaps",
        F.col("sum_gap").alias("sum_gap_micros"),
        F.expr("CAST((10000 * (n_gaps * sum_g2"
               " - CAST(sum_gap AS DECIMAL(38,0)) * sum_gap))"
               " div (CAST(sum_gap AS DECIMAL(38,0)) * sum_gap)"
               " AS BIGINT)").alias("cv2_bp"),
        (F.lit(100) * var_num
         < F.expr("CAST(sum_gap AS DECIMAL(38,0)) * sum_gap"))
        .cast("int").alias("is_bot"),
    )


@query(
    "idf_drift",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> ''))) AS w
      FROM documents),
    dfab AS (
      SELECT w,
             SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS df_a,
             SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS df_b
      FROM words GROUP BY w
      HAVING SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) >= 5
         AND SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) >= 5),
    ranked AS (
      SELECT w, df_a, df_b,
             ROW_NUMBER() OVER (ORDER BY df_a DESC, w) AS rank_a,
             ROW_NUMBER() OVER (ORDER BY df_b DESC, w) AS rank_b
      FROM dfab)
    SELECT w AS term,
           CAST(df_a AS BIGINT) AS df_a,
           CAST(df_b AS BIGINT) AS df_b,
           CAST(rank_a AS BIGINT) AS rank_a,
           CAST(rank_b AS BIGINT) AS rank_b,
           CAST(ABS(rank_a - rank_b) AS BIGINT) AS drift
    FROM ranked
    ORDER BY ABS(rank_a - rank_b) DESC, w LIMIT 20
    """,
)
def q_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency rank drift between two crawl halves (doc_id
    parity as crawl A/B): the 20 terms whose df rank moved most. A
    vocabulary whose top ranks churn between crawls signals topic drift
    or a fetcher-mix change before any model metric does. One distinct-
    word explode + term agg; the rank windows run over the df-filtered
    vocabulary (small), and top-20 is a bounded TakeOrdered."""
    words = (
        _cpu(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda w: w != ""))).alias("w"),
        )
    )
    dfab = (
        words.groupBy("w")
        .agg(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
            .alias("df_a"),
            F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
            .alias("df_b"),
        )
        .filter((F.col("df_a") >= 5) & (F.col("df_b") >= 5))
    )
    ranked = (
        dfab
        .withColumn("rank_a", F.row_number().over(
            Window.orderBy(F.desc("df_a"), F.asc("w"))))
        .withColumn("rank_b", F.row_number().over(
            Window.orderBy(F.desc("df_b"), F.asc("w"))))
    )
    return (
        ranked.select(
            F.col("w").alias("term"),
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            F.col("rank_a").cast("bigint").alias("rank_a"),
            F.col("rank_b").cast("bigint").alias("rank_b"),
            F.abs(F.col("rank_a") - F.col("rank_b")).cast("bigint")
            .alias("drift"),
        )
        .orderBy(F.desc("drift"), F.asc("term"))
        .limit(20)
    )


def _filter_funnel_oracle() -> str:
    g = ORACLE["gopher_rules"]
    return f"""
    WITH g AS ({g}),
    d AS (
      SELECT doc_id, lang, text,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text)
                  THEN 1 ELSE 0 END AS is_rep
      FROM documents),
    j AS (
      SELECT d.doc_id,
             CASE WHEN g.keep THEN 1 ELSE 0 END AS k1,
             CASE WHEN g.keep AND d.lang = 'en' THEN 1 ELSE 0 END AS k2,
             CASE WHEN g.keep AND d.lang = 'en' AND d.is_rep = 1
                  THEN 1 ELSE 0 END AS k3
      FROM d JOIN g ON g.doc = d.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(k1) AS BIGINT) AS n_quality,
           CAST(SUM(k2) AS BIGINT) AS n_lang,
           CAST(SUM(k3) AS BIGINT) AS n_final,
           CAST((COUNT(*) - SUM(k1)) * 10000 // COUNT(*) AS BIGINT)
               AS quality_drop_bp,
           CAST((SUM(k1) - SUM(k2)) * 10000 // GREATEST(SUM(k1), 1)
               AS BIGINT) AS lang_drop_bp,
           CAST((SUM(k2) - SUM(k3)) * 10000 // GREATEST(SUM(k2), 1)
               AS BIGINT) AS dedup_drop_bp
    FROM j
    """


@query("filter_funnel", _filter_funnel_oracle())
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report: documents surviving each stage of
    gopher-quality → english-only → exact-dedup-representative, with
    per-stage attrition in basis points — the number every dataset card
    leads with, and the first thing to re-check when a corpus shrinks
    unexpectedly. Reuses gopher_rules (zero-shuffle flags); the dedup
    stage partitions by a text digest (the oracle by raw text — same
    equality groups, same representative)."""
    from ocr_spark.functions.curation import gopher_rules

    docs = _cpu(spark, sf_dir, "documents")
    flags = gopher_rules(docs, "doc_id", "text").select(
        F.col("doc").alias("doc_id"), "keep")
    wrep = Window.partitionBy(F.sha2(F.col("text"), 256))
    d = docs.select(
        "doc_id", "lang", "text",
        (F.col("doc_id") == F.min("doc_id").over(wrep)).cast("int")
        .alias("is_rep"),
    )
    j = d.join(flags, "doc_id").select(
        F.when(F.col("keep"), 1).otherwise(0).alias("k1"),
        F.when(F.col("keep") & (F.col("lang") == "en"), 1).otherwise(0)
        .alias("k2"),
        F.when(F.col("keep") & (F.col("lang") == "en")
               & (F.col("is_rep") == 1), 1).otherwise(0).alias("k3"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("k1").cast("bigint").alias("n_quality"),
        F.sum("k2").cast("bigint").alias("n_lang"),
        F.sum("k3").cast("bigint").alias("n_final"),
        F.expr("CAST((COUNT(*) - SUM(k1)) * 10000 div COUNT(*) AS BIGINT)")
        .alias("quality_drop_bp"),
        F.expr("CAST((SUM(k1) - SUM(k2)) * 10000"
               " div GREATEST(SUM(k1), 1) AS BIGINT)").alias("lang_drop_bp"),
        F.expr("CAST((SUM(k2) - SUM(k3)) * 10000"
               " div GREATEST(SUM(k2), 1) AS BIGINT)")
        .alias("dedup_drop_bp"),
    )


_NAV_HOST = (["h", 9],)
# a third of each host's pages add a section crumb to the nav template
_NAV_TEXT = (["NAV h", 9, " | home | about | ",
              (["section ", 4, " | "],) * 3 + ([""],) * 6, _TEXT],)


@query(
    "host_common_prefix",
    f"""
    WITH pages AS (
      SELECT {case_sql('doc_id', _NAV_HOST)} AS host,
             {case_sql('doc_id', _NAV_TEXT)} AS t
      FROM documents),
    mm AS (
      SELECT host, COUNT(*) AS n_pages,
             MIN(t) AS lo, MAX(t) AS hi,
             CAST(SUM(length(t)) AS BIGINT) AS chars_total
      FROM pages GROUP BY host),
    lcp AS (
      SELECT host, n_pages, chars_total,
             COALESCE(MIN(CASE WHEN substr(lo, i, 1) <> substr(hi, i, 1)
                           THEN i - 1 END),
                      LEAST(length(lo), length(hi))) AS lcp_len
      FROM (SELECT *, unnest(generate_series(
                1, LEAST(length(lo), length(hi)))) AS i
            FROM mm)
      GROUP BY host, n_pages, chars_total, lo, hi)
    SELECT host,
           CAST(n_pages AS BIGINT) AS n_pages,
           CAST(lcp_len AS BIGINT) AS lcp_len,
           CAST(lcp_len * n_pages * 10000 // chars_total AS BIGINT)
               AS boilerplate_bp
    FROM lcp
    """,
)
def q_host_common_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-boilerplate length per host via the sorted-set LCP
    identity: the common prefix of ALL of a host's pages equals the
    common prefix of just the lexicographic MIN and MAX page — so
    template detection costs one (min, max, count) agg per host plus a
    two-string compare, never a page-pairwise scan. Reports the longest
    common prefix (the nav/header template) and its share of the host's
    bytes. The char compare explodes positions of two strings per host
    only (host-sized, not corpus-sized)."""
    k = F.col("doc_id")
    pages = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _NAV_HOST).alias("host"), case_col(k, _NAV_TEXT).alias("t"))
    mm = pages.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("t").alias("lo"),
        F.max("t").alias("hi"),
        F.sum(F.length("t")).cast("bigint").alias("chars_total"),
    )
    pos = mm.select(
        "host", "n_pages", "chars_total", "lo", "hi",
        F.explode(F.sequence(
            F.lit(1),
            F.least(F.length("lo"), F.length("hi")))).alias("i"),
    )
    lcp = (
        pos.groupBy("host", "n_pages", "chars_total", "lo", "hi")
        .agg(F.coalesce(
            F.min(F.when(
                F.expr("substr(lo, i, 1) <> substr(hi, i, 1)"),
                F.col("i") - 1)),
            F.least(F.length("lo"), F.length("hi")).cast("bigint"),
        ).alias("lcp_len"))
    )
    return lcp.select(
        "host",
        F.col("n_pages").cast("bigint").alias("n_pages"),
        F.col("lcp_len").cast("bigint").alias("lcp_len"),
        F.expr("CAST(lcp_len * n_pages * 10000 div chars_total AS BIGINT)")
        .alias("boilerplate_bp"),
    )


_CENSUS_TEXT = (
    [_TEXT, " mail a", _DOC_ID, "@h.example now"],
    [_TEXT, " call +91 98765 43210 or visit http://h", 7, ".example/p"],
    [_TEXT, " ip 10.0.", 256, ".1 ref 2345 6789 0123"],
)

_CENSUS_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{2,3}[-\s][0-9]{5}[-\s][0-9]{5}"),
    ("id12", r"[0-9]{4}\s[0-9]{4}\s[0-9]{4}"),
    ("url", r"https?://[^\s]+"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
]


@query(
    "entity_census",
    f"""
    WITH src AS (
      SELECT source, {case_sql('doc_id', _CENSUS_TEXT)} AS t FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
        f"CAST(SUM(len(regexp_extract_all(t, '{pat}'))) AS BIGINT)"
        f" AS n_{name}" for name, pat in _CENSUS_PATTERNS)}
    FROM src GROUP BY source
    """,
)
def q_entity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source entity census (emails, phones, 12-digit ids, URLs,
    IPs) over deterministically salted text — the PII-exposure and
    link-density inventory that decides which sources need a scrub pass
    (the counting complement of pii_scrub's redaction). One codegen'd
    regexp projection + one source agg."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", case_col(F.col("doc_id"), _CENSUS_TEXT).alias("t"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for name, pat in _CENSUS_PATTERNS:
        aggs.append(
            F.sum(F.size(F.regexp_extract_all(F.col("t"), F.lit(pat),
                                              F.lit(0))))
            .cast("bigint").alias(f"n_{name}"))
    return docs.groupBy("source").agg(*aggs)


@query(
    "f1_threshold_sweep",
    """
    WITH scored AS (
      SELECT CAST(n_chars AS BIGINT) AS s,
             CASE WHEN list_contains(
               string_split_regex(lower(trim(text)), '\\s+'), 'the')
               THEN 1 ELSE 0 END AS y
      FROM documents),
    hist AS (
      SELECT s, COUNT(*) AS c_all, SUM(y) AS c_pos
      FROM scored GROUP BY s),
    tot AS (SELECT SUM(c_pos) AS n_pos FROM hist),
    r AS (
      SELECT s AS thr,
             SUM(c_pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(c_all) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pred
      FROM hist),
    f AS (
      SELECT thr, tp, pred - tp AS fp, t.n_pos - tp AS fn,
             20000 * tp // (2 * tp + (pred - tp) + (t.n_pos - tp))
                 AS f1_bp
      FROM r CROSS JOIN tot t WHERE tp > 0)
    SELECT CAST(thr AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(f1_bp AS BIGINT) AS f1_bp
    FROM f ORDER BY f1_bp DESC, thr ASC LIMIT 1
    """,
)
def q_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact F1-optimal threshold search for the predict-positive-when-
    score>=t rule: TP/FP/FN at EVERY distinct score via two descending
    cumulative windows over the score histogram, F1 in basis points by
    integer division, argmax with a smallest-threshold tie-break. The
    operating-point picker that turns quality_auc's ranking quality
    into a deployable gate. Windows run over distinct scores, not docs."""
    scored = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("s"),
        F.array_contains(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "the")
        .cast("int").alias("y"),
    )
    hist = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("y").alias("c_pos"))
    tot = hist.agg(F.sum("c_pos").alias("n_pos"))
    w = (Window.orderBy(F.desc("s"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = hist.select(
        F.col("s").alias("thr"),
        F.sum("c_pos").over(w).alias("tp"),
        F.sum("c_all").over(w).alias("pred"),
    )
    f = (
        r.crossJoin(F.broadcast(tot))
        .filter(F.col("tp") > 0)
        .select(
            "thr", "tp",
            (F.col("pred") - F.col("tp")).alias("fp"),
            (F.col("n_pos") - F.col("tp")).alias("fn"),
            F.expr("20000 * tp div (2 * tp + (pred - tp)"
                   " + (n_pos - tp))").alias("f1_bp"),
        )
    )
    return (
        f.orderBy(F.desc("f1_bp"), F.asc("thr")).limit(1)
        .select(
            F.col("thr").cast("bigint").alias("threshold"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.col("f1_bp").cast("bigint").alias("f1_bp"),
        )
    )


@query(
    "source_centroid_drift",
    """
    WITH base AS MATERIALIZED (
      SELECT nid, grp, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid, label AS grp,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * 1048576.0) AS BIGINT)}) AS pairs
        FROM embeddings)),
    g AS (
      SELECT pos,
             CASE WHEN SUM(q) >= 0 THEN SUM(q) // COUNT(*)
                  ELSE -((-SUM(q)) // COUNT(*)) END AS c
      FROM base GROUP BY pos),
    s AS (
      SELECT grp, pos,
             CASE WHEN SUM(q) >= 0 THEN SUM(q) // COUNT(*)
                  ELSE -((-SUM(q)) // COUNT(*)) END AS sc,
             COUNT(*) AS n
      FROM base GROUP BY grp, pos)
    SELECT CAST(s.grp AS BIGINT) AS label,
           CAST(MAX(s.n) AS BIGINT) AS n_vecs,
           CAST(SUM((s.sc - g.c) * (s.sc - g.c)) AS BIGINT) AS drift_d2
    FROM s JOIN g USING (pos)
    GROUP BY s.grp
    """,
)
def q_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift from the global centroid
    (exact squared distance between truncated integer means) — the
    collapsed-label / mis-routed-encoder check at group granularity,
    complementing embedding_outliers' per-vector view. Two dim-sized
    centroid aggs + one dim-keyed join; the corpus is read once."""
    from ocr_spark.functions.similarity import POWER_Q

    base = _cpu(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nid"), F.col("label").alias("grp"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "x"),
    ).select(
        "grp", "pos",
        F.round(F.col("x") * F.lit(float(POWER_Q))).cast("bigint").alias("q"),
    )
    tr = "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"
    g = (base.groupBy("pos")
         .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
         .select("pos", F.expr(tr).alias("c")))
    s = (base.groupBy("grp", "pos")
         .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
         .select("grp", "pos", F.expr(tr).alias("sc"), "n"))
    return (
        s.join(F.broadcast(g), "pos")
        .groupBy("grp")
        .agg(
            F.max("n").cast("bigint").alias("n_vecs"),
            F.sum((F.col("sc") - F.col("c")) * (F.col("sc") - F.col("c")))
            .cast("bigint").alias("drift_d2"),
        )
        .select(F.col("grp").cast("bigint").alias("label"),
                "n_vecs", "drift_d2")
    )


_RING_SHARDS_OLD = 8
_RING_VNODES = 8


def _ring_oracle() -> str:
    h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    vp = ("('0x' || substr(md5(CAST(s AS VARCHAR) || ':'"
          " || CAST(v AS VARCHAR)), 1, 15))::BIGINT")
    return f"""
    WITH docs AS (SELECT doc_id, {h} AS h FROM documents),
    vn AS (
      SELECT s, {vp} AS p
      FROM (SELECT unnest(generate_series(0, {_RING_SHARDS_OLD})) AS s),
           (SELECT unnest(generate_series(0, {_RING_VNODES - 1})) AS v)),
    assign_old AS (
      SELECT d.doc_id,
             COALESCE(
               MIN(CASE WHEN v.p >= d.h THEN v.p END),
               MIN(v.p)) AS owner_p
      FROM docs d CROSS JOIN vn v
      WHERE v.s < {_RING_SHARDS_OLD}
      GROUP BY d.doc_id, d.h),
    assign_new AS (
      SELECT d.doc_id,
             COALESCE(
               MIN(CASE WHEN v.p >= d.h THEN v.p END),
               MIN(v.p)) AS owner_p
      FROM docs d CROSS JOIN vn v
      GROUP BY d.doc_id, d.h),
    ring AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o.owner_p <> nw.owner_p THEN 1 ELSE 0 END)
                 AS moved
      FROM assign_old o JOIN assign_new nw USING (doc_id)),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN h % {_RING_SHARDS_OLD}
                      <> h % {_RING_SHARDS_OLD + 1} THEN 1 ELSE 0 END)
                 AS moved
      FROM docs)
    SELECT 'mod' AS strategy, CAST(n AS BIGINT) AS n_docs,
           CAST(moved AS BIGINT) AS n_moved,
           CAST(moved * 10000 // n AS BIGINT) AS moved_bp
    FROM m
    UNION ALL
    SELECT 'ring', CAST(n AS BIGINT), CAST(moved AS BIGINT),
           CAST(moved * 10000 // n AS BIGINT)
    FROM ring
    """


@query("shard_rebalance", _ring_oracle())
def q_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-count change audit: how many documents move when growing 8
    shards to 9 under modulo assignment vs a consistent-hash ring (8
    md5 virtual nodes per shard). Modulo reshuffles ~8/9 of the corpus;
    the ring moves only the arcs the new shard steals (~1/9) — THE
    reason bucketed storage layouts use ring hashing at 100 TB, shown
    exactly, not asymptotically. The vnode table is a constant 72-row
    broadcast fan-out (like the IVF centroid pattern), never a
    data-sized join."""
    h = F.expr("CAST(CONV(substr(md5(CAST(doc_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT)")
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", h.alias("h"))
    vn_rows = [(s, v) for s in range(_RING_SHARDS_OLD + 1)
               for v in range(_RING_VNODES)]
    vn = spark.createDataFrame(vn_rows, ["s", "v"]).select(
        "s",
        F.expr("CAST(CONV(substr(md5(CAST(s AS STRING) || ':'"
               " || CAST(v AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .alias("p"),
    )

    def _assign(vnodes):
        return (
            docs.crossJoin(F.broadcast(vnodes))
            .groupBy("doc_id")
            .agg(F.coalesce(
                F.min(F.when(F.col("p") >= F.col("h"), F.col("p"))),
                F.min("p")).alias("owner_p"))
        )

    old = _assign(vn.filter(F.col("s") < _RING_SHARDS_OLD)) \
        .withColumnRenamed("owner_p", "op")
    new = _assign(vn)
    ring = (
        old.join(new, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("op") != F.col("owner_p"), 1).otherwise(0))
            .cast("bigint").alias("n_moved"),
        )
        .select(F.lit("ring").alias("strategy"), "n_docs", "n_moved",
                F.expr("CAST(n_moved * 10000 div n_docs AS BIGINT)")
                .alias("moved_bp"))
    )
    mod = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(
            F.col("h") % _RING_SHARDS_OLD
            != F.col("h") % (_RING_SHARDS_OLD + 1), 1).otherwise(0))
        .cast("bigint").alias("n_moved"),
    ).select(F.lit("mod").alias("strategy"), "n_docs", "n_moved",
             F.expr("CAST(n_moved * 10000 div n_docs AS BIGINT)")
             .alias("moved_bp"))
    return mod.unionByName(ring)


@query(
    "pps_sample",
    """
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
    tot AS (SELECT SUM(wt) AS tw FROM w),
    c AS (
      SELECT doc_id, wt,
             SUM(wt) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             GREATEST(t.tw // 100, 1) AS step
      FROM w CROSS JOIN tot t)
    SELECT doc_id, wt,
           CAST(cum // step - (cum - wt) // step AS BIGINT) AS n_hits
    FROM c
    WHERE cum // step > (cum - wt) // step
    """,
)
def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (~100
    draws): a document is selected each time its weight span crosses a
    step-grid point on the cumulative-weight line, so inclusion
    probability is exactly proportional to weight, heavy docs can draw
    multiple hits, and the whole design is one running-sum window — the
    deterministic PPS that replaces RNG-based weighted sampling in
    reproducible corpus subsampling. Returns (doc_id, wt, n_hits)."""
    w = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("wt"))
    tot = w.agg(F.sum("wt").alias("tw"))
    win = (Window.orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("wt").over(win))
        .withColumn("step", F.expr("GREATEST(tw div 100, 1)"))
    )
    return (
        c.filter(F.expr("cum div step > (cum - wt) div step"))
        .select(
            "doc_id", "wt",
            F.expr("CAST(cum div step - (cum - wt) div step AS BIGINT)")
            .alias("n_hits"),
        )
    )


def _mutual_nn_oracle() -> str:
    bsql = ORACLE["lsh_buckets"]
    cos = ("ROUND(list_aggregate(list_transform(list_zip(a.nvec, b.nvec),"
           " p -> p[1]*p[2]), 'sum')"
           " / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x),"
           " 'sum'))"
           " * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x),"
           " 'sum'))), 6)")
    return f"""
    WITH bk AS ({bsql}),
    base AS (
      SELECT vec_id AS nid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec,
             b.bucket
      FROM embeddings e JOIN bk b ON e.vec_id = b.doc),
    pairs AS (
      SELECT a.nid AS qid, b.nid AS nid, {cos} AS cos
      FROM base a JOIN base b
        ON a.bucket = b.bucket AND a.nid <> b.nid),
    best AS (
      SELECT qid, nid, cos FROM (
        SELECT qid, nid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cos DESC, nid) AS rk
        FROM pairs) WHERE rk = 1)
    SELECT x.qid AS doc_a, x.nid AS doc_b, x.cos
    FROM best x JOIN best y ON y.qid = x.nid AND y.nid = x.qid
    WHERE x.qid < x.nid
    """


@query("mutual_nn_pairs", _mutual_nn_oracle())
def q_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match pairs: a and b pair iff each is the other's
    top cosine neighbor within their sign-LSH bucket — the mutual-NN
    rule that mines bitext/aligned pairs with far higher precision than
    one-directional top-1. Bucket-bounded pairs + one per-qid argmax
    window + a self-join on the (qid, best) frame (doc-sized, never
    pairwise)."""
    emb = _cpu(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "vec_id", "embedding")
    base = emb.select(
        F.col("vec_id").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("nvec"),
    ).join(buckets.select(F.col("doc").alias("nid"), "bucket"), "nid")
    a = base.select(F.col("nid").alias("qid"), F.col("nvec").alias("va"),
                    "bucket")
    b = base.select(F.col("nid").alias("nid"), F.col("nvec").alias("vb"),
                    "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid",
                F.round(similarity.cosine(F.col("va"), F.col("vb")),
                        similarity.ROUND).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    best = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("qid", "nid", "cos")
    )
    back = best.select(F.col("qid").alias("nid2"),
                       F.col("nid").alias("qid2"))
    return (
        best.join(back, (best["qid"] == F.col("qid2"))
                  & (best["nid"] == F.col("nid2")))
        .filter(F.col("qid") < F.col("nid"))
        .select(F.col("qid").alias("doc_a"), F.col("nid").alias("doc_b"),
                "cos")
    )


@query(
    "ngram_precision",
    """
    WITH t AS (
      SELECT doc_id AS doc,
             string_split_regex(trim(text), '\\s+') AS gw
      FROM documents),
    pred AS (
      SELECT doc, gw,
             list_concat(
               [gw[i] for i in generate_series(1, len(gw))
                      if i % 7 <> 0],
               ['subscribe', 'now']) AS pw
      FROM t),
    gg AS (
      SELECT doc, g.w || ' ' || g.w2 AS gram, COUNT(*) AS tf_gold
      FROM (SELECT doc, unnest([{'w': gw[i], 'w2': gw[i + 1]}
                  for i in generate_series(1, len(gw) - 1)],
                  recursive := true) FROM pred) g
      GROUP BY doc, g.w || ' ' || g.w2),
    pg AS (
      SELECT doc, g.w || ' ' || g.w2 AS gram, COUNT(*) AS tf_pred
      FROM (SELECT doc, unnest([{'w': pw[i], 'w2': pw[i + 1]}
                  for i in generate_series(1, len(pw) - 1)],
                  recursive := true) FROM pred) g
      GROUP BY doc, g.w || ' ' || g.w2),
    ov AS (
      SELECT p.doc,
             SUM(LEAST(p.tf_pred, COALESCE(gg.tf_gold, 0))) AS clipped,
             SUM(p.tf_pred) AS total
      FROM pg p LEFT JOIN gg ON gg.doc = p.doc AND gg.gram = p.gram
      GROUP BY p.doc)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(clipped AS BIGINT) AS clipped,
           CAST(total AS BIGINT) AS total,
           CAST(10000 * clipped // total AS BIGINT) AS precision_bp
    FROM ov WHERE total > 0
    """,
)
def q_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified bigram precision (the BLEU building block) of the
    degraded extraction against gold: per doc, clipped bigram matches
    over predicted bigrams, exact basis points — the sequence-aware
    complement of extraction_eval's token-bag F1 (dropping every 7th
    word breaks bigrams token-bag metrics can't see). Two (doc, gram)
    aggs + one gram-keyed join; grams shuffle as strings only within
    doc-keyed groups."""
    docs = _cpu(spark, sf_dir, "documents")
    gw = F.split(F.trim(F.col("text")), r"\s+")
    pw = F.concat(
        F.filter(gw, lambda x, i: (i + 1) % 7 != 0),
        F.array(F.lit("subscribe"), F.lit("now")))
    base = docs.select(F.col("doc_id").alias("doc"), gw.alias("gw"),
                       pw.alias("pw"))

    def grams(col):
        n = F.size(col)
        return F.zip_with(
            F.slice(col, 1, n - 1), F.slice(col, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y))

    gg = (base.select("doc", F.explode(grams(F.col("gw"))).alias("gram"))
          .groupBy("doc", "gram").agg(F.count(F.lit(1)).alias("tf_gold")))
    pg = (base.select("doc", F.explode(grams(F.col("pw"))).alias("gram"))
          .groupBy("doc", "gram").agg(F.count(F.lit(1)).alias("tf_pred")))
    ov = (
        pg.join(gg, ["doc", "gram"], "left")
        .groupBy("doc")
        .agg(
            F.sum(F.least(F.col("tf_pred"),
                          F.coalesce(F.col("tf_gold"), F.lit(0))))
            .alias("clipped"),
            F.sum("tf_pred").alias("total"),
        )
        .filter(F.col("total") > 0)
    )
    return ov.select(
        F.col("doc").cast("bigint").alias("doc_id"),
        F.col("clipped").cast("bigint").alias("clipped"),
        F.col("total").cast("bigint").alias("total"),
        F.expr("CAST(10000 * clipped div total AS BIGINT)")
        .alias("precision_bp"),
    )


@query(
    "equimass_bins",
    """
    WITH w AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
    hist AS (SELECT v, COUNT(*) AS c FROM w GROUP BY v),
    r AS (
      SELECT v, c,
             SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER () AS n
      FROM hist),
    edges AS (
      SELECT b.k,
             MIN(CASE WHEN r.cum >= (b.k * r.n + 9) // 10 THEN r.v END)
                 AS edge
      FROM r CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS k) b
      GROUP BY b.k)
    SELECT CAST(k AS BIGINT) AS decile,
           CAST(edge AS BIGINT) AS edge
    FROM edges
    """,
)
def q_equimass_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-mass decile edges of an integer metric via the
    value-histogram ceil rule (edge k = smallest value whose cumulative
    count reaches ceil(k·n/10)) — the generalized percentile primitive
    behind equi-depth histograms, stratified range partitioning, and
    skew-aware bucketing. One histogram agg; the 10 edges come from one
    constant fan-out over the histogram, not 10 passes."""
    w = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("v"))
    hist = w.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    win = (Window.orderBy("v")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = (hist.withColumn("cum", F.sum("c").over(win))
         .withColumn("n", F.sum("c").over(
             Window.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing))))
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    return (
        r.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(F.min(F.when(
            F.col("cum") >= F.expr("(k * n + 9) div 10"),
            F.col("v"))).alias("edge"))
        .select(F.col("k").cast("bigint").alias("decile"),
                F.col("edge").cast("bigint").alias("edge"))
    )


@query(
    "partition_chi2",
    """
    WITH h AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 32 AS part
      FROM documents),
    o AS (
      SELECT p.k AS part, COUNT(h.part) AS obs
      FROM (SELECT unnest(generate_series(0, 31)) AS k) p
      LEFT JOIN h ON h.part = p.k
      GROUP BY p.k),
    t AS (SELECT SUM(obs) AS n FROM o),
    agg AS (
      SELECT t.n AS n,
             SUM((32 * obs - t.n) * (32 * obs - t.n)) AS chi_num
      FROM o CROSS JOIN t GROUP BY t.n)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(chi_num AS BIGINT) AS chi2_num,
           CAST(chi_num // (32 * n) AS BIGINT) AS chi2_scaled,
           CAST(chi_num // (32 * n) < 2 * 31 AS INTEGER) AS uniform_ok
    FROM agg
    """,
)
def q_partition_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-partitioner uniformity audit: the exact chi-square statistic
    of md5-based assignment into 32 partitions against uniform, kept
    integer as chi2_num = Σ(32·o_i − n)² with chi2 = chi2_num/(32n);
    the pass flag is chi2 < 2·df (a loose healthy-partitioner bound).
    The companion to salt_skew_audit: that one measures data skew, this
    one certifies the partitioning function itself. One 32-group agg."""
    h = _t(spark, sf_dir, "documents").select(
        (F.expr("CAST(CONV(substr(md5(CAST(doc_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT)") % 32).alias("part"))
    parts = spark.range(0, 32).select(F.col("id").alias("k"))
    o = (
        parts.join(h, parts["k"] == h["part"], "left")
        .groupBy("k")
        .agg(F.count("part").alias("obs"))
    )
    tot = o.agg(F.sum("obs").alias("n"))
    agg = (
        o.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.sum((F.lit(32) * F.col("obs") - F.col("n"))
                  * (F.lit(32) * F.col("obs") - F.col("n")))
            .cast("bigint").alias("chi_num"),
        )
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("chi_num").alias("chi2_num"),
        F.expr("CAST(chi_num div (32 * n) AS BIGINT)").alias("chi2_scaled"),
        F.expr("CAST(chi_num div (32 * n) < 62 AS INT)").alias("uniform_ok"),
    )


@query(
    "returned_revenue",
    """
    SELECT c.c_custkey,
           MAX(c.c_name) AS c_name,
           MAX(n.n_name) AS n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT)))
                AS BIGINT) AS revenue_centbp,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey
    ORDER BY revenue_centbp DESC, c_custkey ASC LIMIT 20
    """,
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: lost revenue from returned items by customer
    (4-table star: lineitem filtered to R joins orders joins customer,
    nation broadcast) — the multi-join optimizer stress query. Revenue
    is exact integer cent-basis-points (price_cents × (10000 − disc_bp))
    so the top-20 ranking is bit-stable. The returnflag filter reaches
    the lineitem scan (PushedFilters); nation broadcasts; the two big
    joins shuffle on their keys with AQE free to reorder."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("rev"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey")
        .agg(
            F.max("c_name").alias("c_name"),
            F.max("n_name").alias("n_name"),
            F.sum("rev").cast("bigint").alias("revenue_centbp"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .orderBy(F.desc("revenue_centbp"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "nation_trade_flows",
    """
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT)))
                AS BIGINT) AS volume_centbp,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
    GROUP BY ns.n_name, nc.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    """,
)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: shipping volume between nation pairs by order
    year — a 6-table join (two independent nation broadcasts on the
    supplier and customer sides) with the nation-pair filter applied
    BEFORE the big lineitem⋈orders shuffle via the broadcast joins.
    Exact integer cent-bp volume. The query that proves join-order and
    dual-dimension broadcast planning."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("vol"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year(F.col("o_orderdate").cast("timestamp")).cast("bigint")
        .alias("o_year"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(F.col("n_nationkey").alias("ns_key"),
                  F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("nc_key"),
                  F.col("n_name").alias("cust_nation"))
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("ns_key") != F.col("nc_key"))
        .groupBy("supp_nation", "cust_nation", "o_year")
        .agg(
            F.sum("vol").cast("bigint").alias("volume_centbp"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@query(
    "large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
    SELECT o.o_orderkey,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           o.o_orderpriority,
           CAST(b.sum_qty AS BIGINT) AS sum_qty
    FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
    ORDER BY b.sum_qty DESC, o.o_orderkey ASC LIMIT 50
    """,
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog: orders whose total line quantity exceeds 150 —
    the HAVING-over-aggregate shape. The quantity agg runs with
    map-side partials and its HAVING filter prunes the frame BEFORE the
    join back to orders, so the join's build side is only the heavy
    hitters. Top-50 is a bounded TakeOrdered."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("total_cents"),
        "o_orderpriority")
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .select("o_orderkey", "total_cents", "o_orderpriority",
                F.col("sum_qty").cast("bigint").alias("sum_qty"))
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


@query(
    "priority_late_orders",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: orders with at least one line shipped more than
    60 days after the order date, counted by priority — the EXISTS
    semi-join shape (LeftSemi: the probe stops at the first match, and
    the lineitem side never duplicates orders). The date comparison
    joins on the key first so the 60-day predicate evaluates inside the
    join, not as a pre-pass over lineitem."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"]
           > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"))


_SALT_N = 8


@query(
    "salted_join",
    """
    WITH dim AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 3), ('purchase', 10),
                            ('signup', 5), ('refund', -8))
             AS t(event_type, weight)),
    sdim AS (
      SELECT d.event_type, d.weight, s.salt
      FROM dim d, (SELECT unnest(generate_series(0, 7)) AS salt) s),
    ev AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(event_id % 8 AS INTEGER) AS salt
      FROM events)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(e.cents * d.weight) AS BIGINT) AS weighted_cents
    FROM ev e JOIN sdim d
      ON d.event_type = e.event_type AND d.salt = e.salt
    GROUP BY e.event_type
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defused dimension join: the fact side's 5-value event_type
    key is maximally skewed for a shuffle join, so the dim replicates
    across 8 salt values and the join key becomes (event_type, salt) —
    each hot key spreads over 8 tasks instead of hammering one reducer.
    The result is provably identical to the unsalted join (the oracle
    IS the salted plan; tests assert equality against unsalted and the
    5×→40-row replication in the plan). The query-level demonstration
    of the salting the extraction pipeline applies via hash(url)."""
    dim = spark.createDataFrame(
        [("view", 1), ("click", 3), ("purchase", 10),
         ("signup", 5), ("refund", -8)], ["event_type", "weight"])
    sdim = dim.join(
        spark.range(_SALT_N).select(F.col("id").cast("int").alias("salt")))
    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("cents"),
        (F.col("event_id") % _SALT_N).cast("int").alias("salt"),
    )
    return (
        ev.join(sdim, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("cents") * F.col("weight")).cast("bigint")
            .alias("weighted_cents"),
        )
    )


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


_DOC_DATE = (["published 2026-0", ("mod", 9, 1), "-1", 9,
              " updated 2026-0", ("mod", 9, 1), "-1", 9,
              ([" ref 1999-12-31"], [""], [""]), " ", _TEXT],)


@query(
    "doc_date_infer",
    f"""
    WITH synth AS (
      SELECT doc_id, {case_sql('doc_id', _DOC_DATE)} AS t FROM documents),
    dates AS (
      SELECT doc_id,
             unnest(regexp_extract_all(t,
               '([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})', 1)) AS d
      FROM synth),
    votes AS (
      SELECT doc_id, d, COUNT(*) AS c FROM dates GROUP BY doc_id, d),
    best AS (
      SELECT doc_id, d, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY c DESC, d DESC) AS rk,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct,
             SUM(c) OVER (PARTITION BY doc_id) AS n_dates
      FROM votes)
    SELECT doc_id, d AS inferred_date,
           CAST(c AS BIGINT) AS votes,
           CAST(n_dates AS BIGINT) AS n_dates,
           CAST(n_distinct AS BIGINT) AS n_distinct
    FROM best WHERE rk = 1
    """,
)
def q_doc_date_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish-date inference: extract every ISO date mentioned in the
    page, vote, and take the most-repeated (ties to the most recent) —
    the standard heuristic when pages carry a published AND an updated
    stamp plus stray archival dates. Synthetic pages repeat the true
    date twice and a third of them add a decoy. One regexp explode +
    (doc, date) agg + one argmax window."""
    k = F.col("doc_id")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(k, _DOC_DATE).alias("t"))
    dates = synth.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.col("t"), F.lit(r"([0-9]{4}-[0-9]{2}-[0-9]{2})"),
            F.lit(1))).alias("d"),
    )
    votes = dates.groupBy("doc_id", "d").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.desc("d"))
    wd = Window.partitionBy("doc_id")
    return (
        votes
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_distinct", F.count(F.lit(1)).over(wd))
        .withColumn("n_dates", F.sum("c").over(wd))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", F.col("d").alias("inferred_date"),
            F.col("c").cast("bigint").alias("votes"),
            F.col("n_dates").cast("bigint").alias("n_dates"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
        )
    )


@query(
    "link_contexts",
    """
    WITH synth AS (
      SELECT doc_id,
             'intro words see http://h' || CAST(doc_id % 7 AS VARCHAR)
             || '.example/p' || CAST(doc_id AS VARCHAR)
             || ' for details and also https://h'
             || CAST(doc_id % 5 AS VARCHAR)
             || '.example/q trailing words here' AS t
      FROM documents),
    hits AS (
      SELECT doc_id,
             unnest(regexp_extract_all(t,
               '(?:^|\\s)((?:\\S+\\s){0,2})(https?://\\S+)((?:\\s\\S+){0,2})',
               0)) AS ctx
      FROM synth)
    SELECT doc_id,
           regexp_extract(ctx,
             '(https?://\\S+)', 1) AS url,
           trim(regexp_extract(ctx,
             '(?:^|\\s)((?:\\S+\\s){0,2})https?://', 1)) AS before_ctx,
           trim(regexp_extract(ctx,
             'https?://\\S+((?:\\s\\S+){0,2})', 1)) AS after_ctx
    FROM hits
    """,
)
def q_link_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL mentions with ±2 words of surrounding context — the
    plain-text analog of anchor text (link-context relevance signals
    for ranking and for labeling what a crawl frontier URL is about).
    One regexp_extract_all explode + three in-row group extracts; no
    shuffle."""
    k = F.col("doc_id")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("intro words see http://h"), (k % 7).cast("string"),
            F.lit(".example/p"), k.cast("string"),
            F.lit(" for details and also https://h"),
            (k % 5).cast("string"),
            F.lit(".example/q trailing words here"),
        ).alias("t"),
    )
    hits = synth.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.col("t"),
            F.lit(r"(?:^|\s)((?:\S+\s){0,2})(https?://\S+)((?:\s\S+){0,2})"),
            F.lit(0))).alias("ctx"),
    )
    return hits.select(
        "doc_id",
        F.regexp_extract(F.col("ctx"), r"(https?://\S+)", 1).alias("url"),
        F.trim(F.regexp_extract(
            F.col("ctx"), r"(?:^|\s)((?:\S+\s){0,2})https?://", 1))
        .alias("before_ctx"),
        F.trim(F.regexp_extract(
            F.col("ctx"), r"https?://\S+((?:\s\S+){0,2})", 1))
        .alias("after_ctx"),
    )


@query(
    "freshness_lag",
    """
    WITH sm AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             'p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 28 + 1 AS BIGINT) AS lastmod_day
      FROM documents),
    cr AS (
      SELECT 'p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 28 + 1 + (doc_id % 5) * 3 AS BIGINT)
                 AS crawl_day
      FROM documents WHERE doc_id % 2 = 0),
    j AS (
      SELECT sm.host, cr.crawl_day - sm.lastmod_day AS lag_days
      FROM sm JOIN cr ON cr.url = sm.url),
    hist AS (
      SELECT host, lag_days, COUNT(*) AS c FROM j GROUP BY host, lag_days),
    r AS (
      SELECT host, lag_days, c,
             SUM(c) OVER (PARTITION BY host ORDER BY lag_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY host) AS n
      FROM hist)
    SELECT host,
           CAST(MAX(n) AS BIGINT) AS n_crawled,
           CAST(MIN(CASE WHEN cum * 2 >= n THEN lag_days END) AS BIGINT)
               AS p50_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM r GROUP BY host
    """,
)
def q_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-freshness report: per host the median and max lag between a
    page's sitemap lastmod and its actual crawl day (only crawled pages
    count) — the recrawl-scheduler input that turns sitemap freshness
    signals into budget. One url-keyed join + the value-histogram
    median rule."""
    k = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    sm = docs.select(
        F.concat(F.lit("h"), (k % 7).cast("string")).alias("host"),
        F.concat(F.lit("p"), k.cast("string")).alias("url"),
        (k % 28 + 1).cast("bigint").alias("lastmod_day"),
    )
    cr = docs.filter(k % 2 == 0).select(
        F.concat(F.lit("p"), k.cast("string")).alias("url"),
        (k % 28 + 1 + (k % 5) * 3).cast("bigint").alias("crawl_day"),
    )
    j = sm.join(cr, "url").select(
        "host", (F.col("crawl_day") - F.col("lastmod_day")).alias("lag"))
    hist = j.groupBy("host", "lag").agg(F.count(F.lit(1)).alias("c"))
    wc = (Window.partitionBy("host").orderBy("lag")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = (hist.withColumn("cum", F.sum("c").over(wc))
         .withColumn("n", F.sum("c").over(Window.partitionBy("host"))))
    return r.groupBy("host").agg(
        F.max("n").cast("bigint").alias("n_crawled"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("lag")))
        .cast("bigint").alias("p50_lag_days"),
        F.max("lag").cast("bigint").alias("max_lag_days"),
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


_CARD_TEXT = (
    [_TEXT, " card 4111111111111111 ok"],
    [_TEXT, " ref 4111111111111112 no"],
    [_TEXT, " none"],
)


@query(
    "luhn_pii",
    f"""
    WITH synth AS (
      SELECT source, doc_id,
             {case_sql('doc_id', _CARD_TEXT)} AS t
      FROM documents),
    hits AS (
      SELECT source, doc_id,
             unnest(regexp_extract_all(t, '[0-9]{{16}}', 0)) AS num
      FROM synth),
    checked AS (
      SELECT source, num,
             CASE WHEN list_sum(
               [CASE WHEN i % 2 = 0 THEN
                  CASE WHEN 2 * CAST(substr(reverse(num), i, 1) AS INTEGER) > 9
                       THEN 2 * CAST(substr(reverse(num), i, 1) AS INTEGER) - 9
                       ELSE 2 * CAST(substr(reverse(num), i, 1) AS INTEGER) END
                ELSE CAST(substr(reverse(num), i, 1) AS INTEGER) END
                for i in generate_series(1, 16)]) % 10 = 0
             THEN 1 ELSE 0 END AS valid
      FROM hits)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(valid) AS BIGINT) AS n_luhn_valid,
           CAST(SUM(valid) * 10000 // COUNT(*) AS BIGINT) AS valid_bp
    FROM checked GROUP BY source
    """,
)
def q_luhn_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Card-number PII exposure with Luhn validation: 16-digit
    candidates per source, and how many pass the Luhn mod-10 check —
    the filter that separates real card numbers from order ids and
    random digit runs, cutting false redactions (a naive 16-digit scrub
    destroys legitimate identifiers 10x more often). Spark's native
    luhn_check runs in codegen; the oracle unrolls the double-every-
    second-digit sum. One regexp explode + source agg."""
    synth = _t(spark, sf_dir, "documents").select(
        "source", case_col(F.col("doc_id"), _CARD_TEXT).alias("t"))
    hits = synth.select(
        "source",
        F.explode(F.regexp_extract_all(
            F.col("t"), F.lit("[0-9]{16}"), F.lit(0))).alias("num"),
    )
    return (
        hits.select("source",
                    F.expr("CAST(luhn_check(num) AS INT)").alias("valid"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("valid").cast("bigint").alias("n_luhn_valid"),
            F.expr("CAST(SUM(valid) * 10000 div COUNT(*) AS BIGINT)")
            .alias("valid_bp"),
        )
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


@query(
    "length_moments",
    """
    WITH w AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
    s AS (
      SELECT source,
             COUNT(*) AS n,
             SUM(x) AS s1,
             SUM(CAST(x AS HUGEINT) * x) AS s2,
             SUM(CAST(x AS HUGEINT) * x * x) AS s3,
             SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
      FROM w GROUP BY source),
    m AS (
      SELECT source, n, s1,
             n * s2 - CAST(s1 AS HUGEINT) * s1 AS m2n,
             CAST(n AS HUGEINT) * n * s3
               - 3 * n * CAST(s1 AS HUGEINT) * s2
               + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3n,
             CAST(n AS HUGEINT) * n * n * s4
               - 4 * CAST(n AS HUGEINT) * n * s1 * s3
               + 6 * n * CAST(s1 AS HUGEINT) * s1 * s2
               - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4n
      FROM s)
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(s1 AS BIGINT) AS sum_chars,
           CAST(FLOOR(1000000.0 * CAST(m3n AS DOUBLE)
             / POW(CAST(m2n AS DOUBLE), 1.5)) AS BIGINT) AS skew_micro,
           CAST(FLOOR(1000000.0 * (CAST(m4n AS DOUBLE))
             / (CAST(m2n AS DOUBLE) * CAST(m2n AS DOUBLE)))
             AS BIGINT) AS kurt_micro
    FROM m WHERE m2n > 0
    """,
)
def q_length_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source skewness and kurtosis of document length via exact
    integer power sums (the single-pass central-moment identities
    n·Σx²−(Σx)², n²Σx³−3nΣxΣx²+2(Σx)³, n³Σx⁴−4n²ΣxΣx³+6n(Σx)²Σx²−3(Σx)⁴
    in DECIMAL(38)) with one final double division each, spelled
    identically cross-engine — the distribution-shape drift detector
    beyond mean/variance (a fat right tail = concatenation bugs, a
    left-skew = truncation). One source agg, map-side partials."""
    w = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("bigint").alias("x"))
    xd = F.col("x").cast("decimal(38,0)")
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(xd * F.col("x")).alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    m = s.select(
        "source", "n", "s1",
        F.expr("n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1").alias("m2n"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n * s3"
               " - 3 * n * CAST(s1 AS DECIMAL(38,0)) * s2"
               " + 2 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1").alias("m3n"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n * n * s4"
               " - 4 * CAST(n AS DECIMAL(38,0)) * n * s1 * s3"
               " + 6 * n * CAST(s1 AS DECIMAL(38,0)) * s1 * s2"
               " - 3 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 * s1")
        .alias("m4n"),
    )
    return m.filter(F.col("m2n") > 0).select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("s1").cast("bigint").alias("sum_chars"),
        F.expr("CAST(FLOOR(1000000.0D * CAST(m3n AS DOUBLE)"
               " / POW(CAST(m2n AS DOUBLE), 1.5D))"
               " AS BIGINT)").alias("skew_micro"),
        F.expr("CAST(FLOOR(1000000.0D * (CAST(m4n AS DOUBLE))"
               " / (CAST(m2n AS DOUBLE) * CAST(m2n AS DOUBLE)))"
               " AS BIGINT)").alias("kurt_micro"),
    )


@query(
    "canonical_content_mismatch",
    """
    WITH pages AS (
      SELECT doc_id,
             'http://h' || CAST((doc_id // 2) % 9 AS VARCHAR) || '/p'
                 || CAST(doc_id // 2 AS VARCHAR) AS canon,
             CASE WHEN doc_id % 10 = 9 THEN 'CLOAKED ' ELSE '' END
                 || 'content ' || CAST(doc_id // 2 AS VARCHAR) AS body
      FROM documents),
    grp AS (
      SELECT canon,
             COUNT(*) AS n_urls,
             COUNT(DISTINCT body) AS n_bodies
      FROM pages GROUP BY canon)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_canonical_groups,
           CAST(SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_url,
           CAST(SUM(CASE WHEN n_urls > 1 AND n_bodies > 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(SUM(CASE WHEN n_urls > 1 AND n_bodies > 1
                    THEN 1 ELSE 0 END) * 10000
                // GREATEST(SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS mismatch_bp
    FROM grp
    """,
)
def q_canonical_content_mismatch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Canonical-URL vs content agreement audit: among canonical groups
    holding multiple raw URLs, how many serve DIFFERENT bodies — the
    cloaking / personalization / session-state detector that decides
    whether URL-level dedup is safe for a host (if the tracking-param
    variant serves different content, collapsing on canonical URL loses
    data). One canon-keyed agg counting distinct bodies; at corpus
    scale the body would be digested first (same contract as
    dup_rates)."""
    k = F.col("doc_id")
    g = (k / 2).cast("bigint")
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://h"), (g % 9).cast("string"), F.lit("/p"),
                 g.cast("string")).alias("canon"),
        F.concat(
            F.when(k % 10 == 9, F.lit("CLOAKED ")).otherwise(F.lit("")),
            F.lit("content "), g.cast("string")).alias("body"),
    )
    grp = pages.groupBy("canon").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct(F.sha2(F.col("body"), 256)).alias("n_bodies"),
    )
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_canonical_groups"),
        F.sum(F.when(F.col("n_urls") > 1, 1).otherwise(0)).cast("bigint")
        .alias("n_multi_url"),
        F.sum(F.when((F.col("n_urls") > 1) & (F.col("n_bodies") > 1), 1)
              .otherwise(0)).cast("bigint").alias("n_mismatched"),
        F.expr("CAST(SUM(CASE WHEN n_urls > 1 AND n_bodies > 1 THEN 1"
               " ELSE 0 END) * 10000 div GREATEST(SUM(CASE WHEN n_urls"
               " > 1 THEN 1 ELSE 0 END), 1) AS BIGINT)")
        .alias("mismatch_bp"),
    )


@query(
    "delete_audit",
    """
    WITH tomb AS (
      SELECT doc_id FROM documents WHERE doc_id % 13 = 0),
    retained AS (
      SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM tomb)),
    chunks AS (  -- rebuilt surface: derives from retained only
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM retained),
    stale_postings AS (  -- stale surface: still derives from ALL docs
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents),
    audit AS (
      SELECT 'chunks' AS surface,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS n_leaked
      FROM chunks c LEFT JOIN tomb t ON t.doc_id = c.doc_id
      UNION ALL
      SELECT 'stale_postings',
             COUNT(*),
             SUM(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      FROM stale_postings p LEFT JOIN tomb t ON t.doc_id = p.doc_id)
    SELECT surface,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_leaked AS BIGINT) AS n_leaked,
           CAST(n_leaked * 10000 // n_rows AS BIGINT) AS leak_bp
    FROM audit
    """,
)
def q_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: join every derived
    surface back to the tombstone list and count rows that still
    reference deleted documents. The fixture plants a correctly rebuilt
    surface (chunks — zero leaks) AND a stale one (postings built from
    the pre-delete corpus) that the audit must flag — deletion
    verification is only trustworthy if it can fail. The tombstone side
    broadcasts (deletion lists are dim-sized); each surface costs one
    scan + broadcast join, and at 100 TB this is the nightly compliance
    job shape."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tomb = docs.filter(F.col("doc_id") % 13 == 0).select("doc_id")
    retained = docs.join(F.broadcast(tomb), "doc_id", "left_anti")
    words = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
    tmark = tomb.select(F.col("doc_id").alias("t_id"), F.lit(1).alias("t"))

    def audit(df: DataFrame, name: str) -> DataFrame:
        return (
            df.join(F.broadcast(tmark),
                    df["doc_id"] == F.col("t_id"), "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.coalesce(F.col("t"), F.lit(0))).cast("bigint")
                .alias("n_leaked"),
            )
            .select(F.lit(name).alias("surface"), "n_rows", "n_leaked",
                    F.expr("CAST(n_leaked * 10000 div n_rows AS BIGINT)")
                    .alias("leak_bp"))
        )

    return audit(words(retained), "chunks").unionByName(
        audit(words(docs), "stale_postings"))


@query(
    "agg_delta_merge",
    """
    WITH old AS (
      SELECT source, COUNT(*) AS n, SUM(n_chars) AS s,
             MIN(n_chars) AS mn, MAX(n_chars) AS mx
      FROM documents WHERE doc_id % 2 = 0 GROUP BY source),
    delta AS (
      SELECT source, COUNT(*) AS n, SUM(n_chars) AS s,
             MIN(n_chars) AS mn, MAX(n_chars) AS mx
      FROM documents WHERE doc_id % 2 = 1 GROUP BY source),
    merged AS (
      SELECT COALESCE(o.source, d.source) AS source,
             COALESCE(o.n, 0) + COALESCE(d.n, 0) AS n,
             COALESCE(o.s, 0) + COALESCE(d.s, 0) AS s,
             LEAST(COALESCE(o.mn, d.mn), COALESCE(d.mn, o.mn)) AS mn,
             GREATEST(COALESCE(o.mx, d.mx), COALESCE(d.mx, o.mx)) AS mx
      FROM old o FULL OUTER JOIN delta d ON d.source = o.source),
    full_agg AS (
      SELECT source, COUNT(*) AS n, SUM(n_chars) AS s,
             MIN(n_chars) AS mn, MAX(n_chars) AS mx
      FROM documents GROUP BY source)
    SELECT m.source,
           CAST(m.n AS BIGINT) AS n_docs,
           CAST(m.s AS BIGINT) AS sum_chars,
           CAST(m.mn AS BIGINT) AS min_chars,
           CAST(m.mx AS BIGINT) AS max_chars,
           CAST(m.n = f.n AND m.s = f.s AND m.mn = f.mn AND m.mx = f.mx
                AS INTEGER) AS matches_full
    FROM merged m JOIN full_agg f ON f.source = m.source
    """,
)
def q_agg_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: merge yesterday's per-source
    rollup with today's delta rollup (count/sum add, min/max combine)
    and PROVE the merge equals a full recompute — the algebra that lets
    a 100 TB nightly rollup touch only the new partition. Only
    decomposable aggregates merge this way (count/sum/min/max here;
    means derive from sums; medians/distincts need sketches — see
    hll_distinct_events); the matches_full column is the audit."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("x"))

    def roll(df):
        return df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
            F.min("x").alias("mn"), F.max("x").alias("mx"))

    old = roll(docs.filter(F.col("doc_id") % 2 == 0)).alias("o")
    delta = roll(docs.filter(F.col("doc_id") % 2 == 1)).alias("d")
    merged = (
        old.join(delta, F.col("o.source") == F.col("d.source"),
                 "full_outer")
        .select(
            F.coalesce("o.source", "d.source").alias("source"),
            (F.coalesce("o.n", F.lit(0))
             + F.coalesce("d.n", F.lit(0))).alias("n"),
            (F.coalesce("o.s", F.lit(0))
             + F.coalesce("d.s", F.lit(0))).alias("s"),
            F.least(F.coalesce("o.mn", F.col("d.mn")),
                    F.coalesce("d.mn", F.col("o.mn"))).alias("mn"),
            F.greatest(F.coalesce("o.mx", F.col("d.mx")),
                       F.coalesce("d.mx", F.col("o.mx"))).alias("mx"),
        )
    )
    full = roll(docs).select(
        F.col("source").alias("f_source"),
        F.col("n").alias("fn"), F.col("s").alias("fs"),
        F.col("mn").alias("fmn"), F.col("mx").alias("fmx"))
    return (
        merged.join(full, merged["source"] == full["f_source"])
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("s").cast("bigint").alias("sum_chars"),
            F.col("mn").cast("bigint").alias("min_chars"),
            F.col("mx").cast("bigint").alias("max_chars"),
            ((F.col("n") == F.col("fn")) & (F.col("s") == F.col("fs"))
             & (F.col("mn") == F.col("fmn"))
             & (F.col("mx") == F.col("fmx"))).cast("int")
            .alias("matches_full"),
        )
    )


@query(
    "streaming_event_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM events
    GROUP BY 1, 2
    """,
    eager=True,
)
def q_streaming_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL StreamingQuery, value-checked against the batch oracle: the
    events table is split into 4 files, read with readStream +
    maxFilesPerTrigger=1 under an availableNow trigger, and each
    micro-batch's window rollup MERGES into the snapshot-committed state
    table (streaming/incremental.stream_merged_rollup — count/sum add,
    min/max combine, atomic pointer flip). The returned frame is the
    final committed state after >=4 merges, which must equal the one-shot
    batch aggregation because the rollup algebra is associative — turning
    the streaming surface's evidence from pytest-only into a driver-green
    value-oracle row. Result is materialized before the scratch dirs are
    removed (the state parquet does not outlive the call)."""
    import shutil
    import tempfile

    from ocr_spark.streaming.incremental import (
        read_rollup_state,
        stream_merged_rollup,
    )

    base = tempfile.mkdtemp(prefix="ocr_spark_stream_rollup_")
    try:
        input_dir = os.path.join(base, "in")
        (_t(spark, sf_dir, "events")
         .repartition(4, "event_id")
         .write.parquet(input_dir))
        q = stream_merged_rollup(
            spark, input_dir,
            state_dir=os.path.join(base, "state"),
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        q.awaitTermination()
        state = read_rollup_state(spark, os.path.join(base, "state"))
        return spark.createDataFrame(state.collect(), state.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "metric_correlation",
    """
    WITH m AS (
      SELECT source,
             CAST(n_chars AS BIGINT) AS x,
             CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS y
      FROM documents WHERE length(trim(text)) > 0),
    s AS (
      SELECT source, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM m GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(FLOOR(10000.0 * CAST(n * sxy - CAST(sx AS HUGEINT) * sy
                                     AS DOUBLE)
             / SQRT(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
             AS BIGINT) AS corr_bp
    FROM s
    WHERE n * sxx - CAST(sx AS HUGEINT) * sx > 0
      AND n * syy - CAST(sy AS HUGEINT) * sy > 0
    """,
)
def q_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Pearson correlation (basis points) between document
    length and word count per source: all five power sums are exact
    DECIMAL(38) integers (order-free under any partitioning), and the
    only float op is the single final quotient, spelled identically
    cross-engine — the generic two-metric correlation primitive
    (quality-vs-length, depth-vs-spam, any drift pair). One source agg
    with map-side partials."""
    m = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    ).select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
        .alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    num = "n * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
    dx = "n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
    dy = "n * syy - CAST(sy AS DECIMAL(38,0)) * sy"
    return (
        s.filter(F.expr(f"({dx}) > 0 AND ({dy}) > 0"))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.expr(
                f"CAST(FLOOR(10000.0D * CAST(({num}) AS DOUBLE)"
                f" / SQRT(CAST(({dx}) AS DOUBLE)"
                f" * CAST(({dy}) AS DOUBLE))) AS BIGINT)")
            .alias("corr_bp"),
        )
    )


def _lang_acc_oracle() -> str:
    return f"""
    WITH lid AS ({_lang_id_oracle()}),
    agg AS (
      SELECT labeled_lang,
             COUNT(*) AS n,
             SUM(CASE WHEN predicted_lang = labeled_lang
                 THEN 1 ELSE 0 END) AS n_correct,
             SUM(CASE WHEN predicted_lang = 'unknown'
                 THEN 1 ELSE 0 END) AS n_unknown
      FROM lid GROUP BY labeled_lang)
    SELECT labeled_lang,
           CAST(n AS BIGINT) AS n_docs,
           CAST(n_correct AS BIGINT) AS n_correct,
           CAST(n_unknown AS BIGINT) AS n_unknown,
           CAST(n_correct * 10000 // n AS BIGINT) AS acc_bp
    FROM agg
    """


@query("lang_id_accuracy", _lang_acc_oracle())
def q_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class accuracy rollup of the marker-word language identifier
    against the corpus labels (plus the unknown-rate): the eval that
    decides whether the cheap lang-ID is good enough to route documents
    or a real classifier is needed per class. Composes the lang_id
    projection with one labeled-class agg."""
    lid = QUERIES["lang_id"](spark, sf_dir)
    return (
        lid.groupBy("labeled_lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("predicted_lang") == F.col("labeled_lang"),
                         1).otherwise(0)).cast("bigint")
            .alias("n_correct"),
            F.sum(F.when(F.col("predicted_lang") == "unknown", 1)
                  .otherwise(0)).cast("bigint").alias("n_unknown"),
            F.expr("CAST(SUM(CASE WHEN predicted_lang = labeled_lang"
                   " THEN 1 ELSE 0 END) * 10000 div COUNT(*) AS BIGINT)")
            .alias("acc_bp"),
        )
    )


_GOLDEN_JSONL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "golden.jsonl")


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
        spark,
        pages_path=os.path.join(d, "pages.parquet"),
        payloads_path=os.path.join(d, "payloads.parquet"),
    )
    return out.select(
        "url",
        F.sha2(F.encode(_nfc(F.col("extracted_text")), "UTF-8"), 256)
        .alias("text_sha256"),
        "doc_type",
        "decision",
    )


# ===========================================================================
# Round-4 additions: keep-first paragraph dedup, SoftDeDup reweighting,
# PDF Info-dict metadata.
# ===========================================================================

@query(
    "paragraph_dedup",
    f"""
    WITH ml AS ({_MULTILINE_SQL}),
    lx AS (SELECT doc_id AS doc, string_split(text, chr(10)) AS ps FROM ml),
    paras AS (
      SELECT doc, u.pos AS pos, u.para AS para
      FROM (SELECT doc,
                   unnest(list_transform(generate_series(1, len(ps)),
                                         i -> {{'pos': i, 'para': ps[i]}})) AS u
            FROM lx)),
    n AS (SELECT doc, pos, para,
                 CASE WHEN lower(trim(para)) = '' THEN NULL
                      ELSE md5(lower(trim(para))) END AS h
          FROM paras),
    win AS (SELECT h, MIN({{'doc': doc, 'pos': pos}}) AS w FROM n
            WHERE h IS NOT NULL GROUP BY h),
    kept AS (
      SELECT n.doc, n.pos, n.para
      FROM n LEFT JOIN win USING (h)
      WHERE n.h IS NULL OR (n.doc = w.doc AND n.pos = w.pos)),
    reb AS (SELECT doc, COUNT(*) AS n_kept,
                   string_agg(para, chr(10) ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc)
    SELECT l.doc, CAST(len(l.ps) AS BIGINT) AS n_paras,
           CAST(len(l.ps) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
           COALESCE(r.clean_text, '') AS clean_text
    FROM lx l LEFT JOIN reb r USING (doc)
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide paragraph dedup KEEPING the first occurrence
    (min (doc, pos) per normalized-paragraph hash) over the multi-line
    web-page corpus — the complement of line_dedup's drop-every-copy:
    exactly one copy of each repeated header/footer/syndicated paragraph
    survives, at its earliest corpus position. See
    functions/curation.paragraph_dedup for the scale shape."""
    from ocr_spark.functions.curation import paragraph_dedup

    return paragraph_dedup(_multiline_docs(spark, sf_dir), "doc_id", "text")


@query(
    "soft_dedup_weights",
    """
    WITH h AS (
      SELECT doc_id AS doc, md5(lower(trim(text))) AS h FROM documents),
    sz AS (SELECT h, COUNT(*) AS cluster_size FROM h GROUP BY h)
    SELECT doc, CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(1000000 // cluster_size AS BIGINT) AS weight_micro
    FROM h JOIN sz USING (h)
    """,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup reweighting over the documents table: every doc gets
    weight_micro = 1e6 // exact-content-cluster size, so duplicated
    content contributes one document's expected mass without dropping
    any copy. See functions/curation.soft_dedup_weights."""
    from ocr_spark.functions.curation import soft_dedup_weights

    return soft_dedup_weights(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text")


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


# ===========================================================================
# Round-4 curation batch: CCNet perplexity buckets, declared-lang audit,
# outlink-spam scoring.
# ===========================================================================

def _ccnet_oracle() -> str:
    lm = _lm_oracle()
    return f"""
    WITH lm AS ({lm}),
    scored AS (
      SELECT lm.doc, d.lang, lm.n_terms,
             CASE WHEN lm.n_terms > 0 THEN
               CAST((-lm.sum_logp_micro) // lm.n_terms AS BIGINT)
             END AS score_micro
      FROM lm JOIN documents d ON d.doc_id = lm.doc),
    binned AS (
      SELECT lang, score_micro // 1000 AS bin FROM scored WHERE n_terms > 0),
    hist AS (SELECT lang, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(cnt) AS n FROM hist GROUP BY 1),
    cum AS (
      SELECT lang, bin,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum
      FROM hist),
    cuts AS (
      SELECT c.lang,
             MIN(CASE WHEN c.cum * 3 >= t.n THEN c.bin END) AS cut1,
             MIN(CASE WHEN c.cum * 3 >= 2 * t.n THEN c.bin END) AS cut2
      FROM cum c JOIN tot t USING (lang) GROUP BY c.lang)
    SELECT s.doc, s.lang, s.score_micro,
           CASE WHEN s.score_micro IS NULL THEN NULL
                WHEN s.score_micro // 1000 <= cuts.cut1 THEN 'head'
                WHEN s.score_micro // 1000 <= cuts.cut2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s LEFT JOIN cuts USING (lang)
    """


@query("ccnet_buckets", _ccnet_oracle())
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity terciles per language with
    value-threshold (tie-stable) bucket assignment over the bigram-LM
    micro-nat score. See functions/curation.ccnet_buckets."""
    from ocr_spark.functions.curation import ccnet_buckets

    return ccnet_buckets(_cpu(spark, sf_dir, "documents"), "doc_id", "text", "lang")


_LANG_ATTR_HTML_SQL = """
    CASE doc_id % 5
      WHEN 0 THEN '<html lang="en"><body>'
      WHEN 1 THEN '<html lang="' || lang || '-US"><body>'
      WHEN 2 THEN '<HTML LANG="' || upper(lang) || '"><body>'
      WHEN 3 THEN '<html><body>'
      ELSE '<html  lang = "' || lang || '"><body>'
    END
"""


@query(
    "html_lang_mismatch",
    f"""
    WITH u AS (
      SELECT source, lang, {_LANG_ATTR_HTML_SQL} AS html FROM documents),
    rows_ AS (
      SELECT source AS grp, lower(lang) AS lang,
             lower(regexp_extract(html,
               '(?i)<html[^>]*\\slang\\s*=\\s*"([^"]*)"', 1)) AS declared
      FROM u),
    agg AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(declared != '' AS INT)) AS BIGINT) AS n_declared,
             CAST(SUM(CAST(declared != ''
               AND regexp_extract(declared, '^[a-z]+', 0) != lang AS INT))
               AS BIGINT) AS n_mismatch
      FROM rows_ GROUP BY grp)
    SELECT grp, n_docs, n_declared, n_mismatch,
           CASE WHEN n_declared > 0 THEN
             CAST(n_mismatch * 10000 // n_declared AS BIGINT)
           END AS mismatch_bp
    FROM agg
    """,
)
def q_html_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared <html lang> vs labeled language audit per source over
    deterministic synthetic attributes: template-pinned lang="en"
    (mismatch wherever the page isn't English), matching region subtags
    (en-US), case variants (LANG="DE"), undeclared pages, and
    whitespace-padded attributes. See
    functions/curation.declared_lang_mismatch."""
    from ocr_spark.functions.curation import declared_lang_mismatch

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.expr(_LANG_ATTR_HTML_SQL).alias("html")
    )
    return declared_lang_mismatch(docs, "doc_id", "html", "lang", "source")


_SPAM_EDGE_SQL = """
    CASE
      WHEN doc_id % 40 < 4 THEN [
        'farm' || CAST(doc_id % 40 AS VARCHAR), 'farm' || CAST(doc_id % 40 AS VARCHAR),
        'farm' || CAST(doc_id % 40 AS VARCHAR), 'farm' || CAST(doc_id % 40 AS VARCHAR),
        'farm' || CAST(doc_id % 40 AS VARCHAR), 'farm' || CAST(doc_id % 40 AS VARCHAR)]
      WHEN doc_id % 40 = 4 THEN ['h5', 't' || CAST(doc_id % 97 AS VARCHAR)]
      WHEN doc_id % 40 = 5 THEN ['h4', 't' || CAST(doc_id % 97 AS VARCHAR)]
      ELSE ['t' || CAST(doc_id % 97 AS VARCHAR),
            't' || CAST((doc_id + 13) % 97 AS VARCHAR), 'hub']
    END
"""


@query(
    "link_spam_score",
    f"""
    WITH e AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
             unnest({_SPAM_EDGE_SQL}) AS dst
      FROM documents),
    per AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS n_links,
             CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_targets
      FROM e GROUP BY src),
    pairs AS (SELECT DISTINCT src, dst FROM e WHERE src != dst),
    recip AS (
      SELECT a.src, CAST(COUNT(*) AS BIGINT) AS n_reciprocal
      FROM pairs a JOIN pairs b ON a.src = b.dst AND a.dst = b.src
      GROUP BY a.src)
    SELECT p.src, p.n_links, p.n_targets,
           CAST(p.n_targets * 10000 // p.n_links AS BIGINT) AS diversity_bp,
           CAST(COALESCE(r.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
           CAST((p.n_links >= 20 AND p.n_targets * 10000 // p.n_links <= 2000)
                OR COALESCE(r.n_reciprocal, 0) >= 1 AS INT) AS spam_flag
    FROM per p LEFT JOIN recip r USING (src)
    """,
)
def q_link_spam_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink-spam scoring over a deterministic synthetic host graph:
    four link farms (6 identical outlinks per page), one reciprocal pair
    (h4 <-> h5), and diverse normal hosts. See
    functions/graph.link_spam_score."""
    from ocr_spark.functions.graph import link_spam_score

    spark_edges = (
        _SPAM_EDGE_SQL.replace("VARCHAR", "STRING")
        .replace("[", "array(").replace("]", ")")
    )
    edges = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("src"),
        F.explode(F.expr(spark_edges)).alias("dst"),
    )
    return link_spam_score(edges, "src", "dst")


def _tdiv_duck(x: str, s: str) -> str:
    """Truncate-toward-zero div in DuckDB SQL (``//`` floors on negatives)."""
    return f"(CASE WHEN {x} >= 0 THEN ({x}) // ({s}) ELSE -((-({x})) // ({s})) END)"


_GRAM_SCALE = 1 << 20


@query(
    "gram_moments",
    f"""
    WITH v AS (
      SELECT vec_id,
             list_append(
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * {_GRAM_SCALE}) AS BIGINT)),
               CAST(label AS BIGINT) * {_GRAM_SCALE}) AS aug
      FROM embeddings),
    e AS (
      SELECT vec_id, unnest(aug) AS q,
             unnest(range(1, len(aug) + 1)) AS i
      FROM v)
    SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
           CAST(SUM(a.q * b.q) AS BIGINT) AS s_q
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def q_gram_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented normal-equations moments (X^T X, X^T y, y^T y in one
    upper-triangle frame) over the embeddings table — the distributed
    half of closed-form linear-probe training. See
    functions/similarity.gram_moments."""
    return similarity.gram_moments(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label"
    )


def _pca_oracle(iters: int = 8, scale: int = _GRAM_SCALE) -> str:
    td = _tdiv_duck
    parts = [f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS q
      FROM embeddings),
    e AS (
      SELECT vec_id, unnest(q) AS q,
             unnest(range(1, len(q) + 1)) AS i
      FROM v),
    gu AS (
      SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2),
    g AS (
      SELECT i, j, {td('s', scale)} AS s FROM gu
      UNION ALL
      SELECT j AS i, i AS j, {td('s', scale)} AS s FROM gu WHERE i != j),
    v0 AS (SELECT DISTINCT i, CAST({scale} AS BIGINT) AS x FROM g)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
    w{t} AS (
      SELECT g.i, SUM(g.s * p.x) AS wx
      FROM g JOIN v{t - 1} p ON g.j = p.i GROUP BY g.i),
    s{t} AS (SELECT GREATEST(MAX(abs(wx)) // {scale}, 1) AS s FROM w{t}),
    v{t} AS (
      SELECT w.i, {td('w.wx', 'st.s')} AS x FROM w{t} w, s{t} st)""")
    parts.append(f"""
    SELECT e.vec_id AS id,
           CAST({td('SUM(e.q * vf.x)', scale)} AS BIGINT) AS proj_micro
    FROM e JOIN v{iters} vf ON e.i = vf.i
    GROUP BY e.vec_id""")
    return "".join(parts)


@query("pca_power_projection", _pca_oracle(), eager=True)
def q_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-principal-direction projection per embedding via exact
    integer power iteration (8 fixed steps, truncate-toward-zero
    normalization); the DuckDB twin unrolls the identical steps as CTEs
    over the mirrored gram frame. See
    functions/similarity.pca_power_projection."""
    return similarity.pca_power_projection(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@query(
    "sole_return_supplier",
    """
    WITH cand AS (
      SELECT l1.l_orderkey, l1.l_suppkey
      FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE l1.l_returnflag = 'R' AND o.o_orderstatus = 'F'
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey != l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey != l1.l_suppkey
            AND l3.l_returnflag = 'R')),
    agg AS (
      SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM cand c
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_nationkey < 10
      GROUP BY s.s_suppkey, s.s_name)
    SELECT s_suppkey, s_name, numwait
    FROM agg ORDER BY numwait DESC, s_name ASC LIMIT 20
    """,
)
def q_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog — the hardest classic relational shape: suppliers
    who were the SOLE returning supplier in multi-supplier finalized
    orders. One correlated EXISTS (LeftSemi with a compound non-equi
    condition) and one correlated NOT EXISTS (LeftAnti, same condition
    plus the returnflag predicate) against the same fact table, then two
    broadcast dim joins and a top-20 with a total tie-break.

    Scale shape: both the semi and the anti join key on l_orderkey, so
    all three lineitem passes co-partition on the same exchange (AQE
    reuses it); supplier/nation broadcast; the returnflag filters reach
    the parquet scans (PushedFilters). No correlated per-row subquery
    execution — Catalyst rewrites both as joins."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(
            _t(spark, sf_dir, "orders")
            .where(F.col("o_orderstatus") == "F")
            .select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
        )
    )
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2"))
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
    cand = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "leftsemi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("ok3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "leftanti",
        )
    )
    sup = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(F.col("n_nationkey") < 10)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    agg = (
        cand.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )
    return agg.orderBy(F.desc("numwait"), F.asc("s_name")).limit(20)


@query(
    "dominant_share_suppliers",
    """
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2),
    pt AS (SELECT l_partkey, SUM(qty) AS total FROM sp GROUP BY 1),
    dom AS (
      SELECT sp.l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n_dominant_parts,
             CAST(MAX(sp.qty * 10000 // pt.total) AS BIGINT) AS max_share_bp
      FROM sp JOIN pt USING (l_partkey)
      WHERE sp.qty * 2 > pt.total
      GROUP BY sp.l_suppkey)
    SELECT s.s_suppkey, s.s_name, d.n_dominant_parts, d.max_share_bp
    FROM dom d JOIN supplier s ON s.s_suppkey = d.l_suppkey
    """,
)
def q_dominant_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog (nested-aggregate semi shape, no partsupp table in
    this schema): suppliers who shipped >50% of some part's total volume
    inside a one-year window — the two-level aggregate (per-(part,supp)
    then per-part) joined back on the part key, reduced per supplier, and
    resolved against the broadcast supplier dim.

    Scale shape: both aggregates share the l_partkey-dominated exchange;
    the date window reaches the parquet scan; the join back to pt is
    part-keyed (pt is the smaller post-agg frame, broadcastable under
    AQE); shares are exact integer bp."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
    )
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
    pt = sp.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    dom = (
        sp.join(pt, "l_partkey")
        .where(F.col("qty") * 2 > F.col("total"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dominant_parts"),
            F.max(F.expr("qty * 10000 div total")).cast("bigint")
            .alias("max_share_bp"),
        )
    )
    return dom.join(
        F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", "n_dominant_parts", "max_share_bp")


@query(
    "streaming_dedup_events",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           event_type, user_id,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
    eager=True,
)
def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL stateful StreamingQuery value-checked against the batch
    oracle: the events table is duplicated (two full copies written as
    separate parquet files), streamed with maxFilesPerTrigger=1 under an
    availableNow trigger through dropDuplicates("event_id") — Spark's
    built-in cross-micro-batch stateful dedup — into a parquet append
    sink. The second copy arrives in LATER micro-batches than the first,
    so the state store (not intra-batch dedup) must suppress it; the
    committed sink must equal SELECT-one-copy exactly. Duplicate rows are
    bit-identical, so which copy survives is value-irrelevant and the
    oracle is strict.

    Scale shape: state is keyed on event_id and shards across the
    shuffle like any keyed agg; production would add a watermark on ts
    to bound state (dropDuplicatesWithinWatermark) — unbounded here only
    because availableNow runs to completion."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="ocr_spark_stream_dedup_")
    try:
        ev = _t(spark, sf_dir, "events")
        in_dir = os.path.join(base, "in")
        ev.repartition(2, "event_id").write.parquet(in_dir)
        ev.repartition(2, "event_id").write.mode("append").parquet(in_dir)
        out_dir = os.path.join(base, "out")
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        res = spark.read.parquet(out_dir).select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "hll_merge_daily",
    f"""
    WITH src AS (
      SELECT strftime(ts, '%Y-%m-%d') AS scope,
             CAST(user_id AS VARCHAR) AS v
      FROM events),
    h AS (
      SELECT scope,
             ('0x' || substr(md5(v), 1, 8))::BIGINT AS h
      FROM src),
    p AS (SELECT scope, h // 16777216 AS j, h % 16777216 AS rest FROM h),
    r AS (SELECT scope, j, CASE WHEN rest = 0 THEN 25
                                ELSE 25 - length(bin(rest)) END AS rho
          FROM p),
    day_regs AS (SELECT scope, j, MAX(rho) AS mj FROM r GROUP BY 1, 2),
    merged AS (SELECT 'ALL' AS scope, j, MAX(mj) AS mj
               FROM day_regs GROUP BY j),
    regs AS (SELECT * FROM day_regs UNION ALL SELECT * FROM merged),
    scopes AS (SELECT DISTINCT scope FROM regs),
    frame AS (
      SELECT s.scope, g.j FROM scopes s
      CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS j) g),
    filled AS (
      SELECT f.scope, COALESCE(regs.mj, 0) AS mj
      FROM frame f LEFT JOIN regs ON f.scope = regs.scope AND f.j = regs.j),
    s AS (SELECT scope,
                 CAST(SUM(CAST(1 AS BIGINT) << (32 - mj)) AS BIGINT)
                     AS sum_scaled,
                 CAST(SUM(CAST(mj = 0 AS INT)) AS BIGINT) AS n_zero
          FROM filled GROUP BY scope),
    ex AS (
      SELECT strftime(ts, '%Y-%m-%d') AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events),
    est AS (
      SELECT scope, sum_scaled, n_zero,
             CAST({_HLL_ALPHA_MM} AS DOUBLE)
               / (CAST(sum_scaled AS DOUBLE) / CAST(4294967296 AS DOUBLE))
                 AS raw,
             CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE)
               / CAST(n_zero AS DOUBLE)) AS linear
      FROM s)
    SELECT e.scope, e.sum_scaled, e.n_zero,
           ROUND(CASE WHEN e.n_zero > 0 AND e.raw < 640.0
                      THEN e.linear ELSE e.raw END, 2) AS est_distinct,
           ex.exact_distinct
    FROM est e JOIN ex USING (scope)
    """,
)
def q_hll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch incremental distinct: per-day HLL register frames
    over user_id, with the ALL row computed ONLY by MAX-merging the
    per-day registers (never re-reading events) — the snapshot-
    incremental uniques pattern. See functions/curation.hll_merged_daily."""
    from ocr_spark.functions.curation import hll_merged_daily

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    return hll_merged_daily(ev, "uid", "day", b=8)


_REVALIDATION_SYNTH_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 3600 ELSE NULL END AS max_age_sec,
           CAST(doc_id % 7200 AS BIGINT) AS age_sec,
           CASE WHEN doc_id % 4 = 1
                THEN '"etag-' || CAST(doc_id AS VARCHAR) || '"' END AS etag,
           CASE WHEN doc_id % 4 = 2 THEN '2026-01-01 00:00:00' END
               AS last_modified
    FROM documents
"""


@query(
    "revalidation_plan",
    f"""
    WITH u AS ({_REVALIDATION_SYNTH_SQL})
    SELECT doc_id,
           CAST(max_age_sec IS NOT NULL
                AND age_sec < max_age_sec AS INT) AS fresh,
           CASE
             WHEN max_age_sec IS NOT NULL AND age_sec < max_age_sec
               THEN 'skip'
             WHEN etag IS NOT NULL THEN 'revalidate_etag'
             WHEN last_modified IS NOT NULL THEN 'revalidate_ims'
             ELSE 'fetch'
           END AS action
    FROM u
    """,
)
def q_revalidation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP recrawl revalidation planning (RFC 9111 order: freshness
    beats validators; ETag beats Last-Modified): per url decide
    skip / revalidate_etag / revalidate_ims / fetch from synthetic
    cached-response metadata. A zero-shuffle projection — at crawl scale
    this is the gate that turns a 10^12-url frontier into the small
    fraction that actually refetches."""
    u = _cpu(spark, sf_dir, "documents").select("doc_id").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN 3600 END AS max_age_sec",
        "CAST(doc_id % 7200 AS BIGINT) AS age_sec",
        "CASE WHEN doc_id % 4 = 1 THEN concat('\"etag-', CAST(doc_id AS STRING),"
        " '\"') END AS etag",
        "CASE WHEN doc_id % 4 = 2 THEN '2026-01-01 00:00:00' END AS last_modified",
    )
    fresh = F.col("max_age_sec").isNotNull() & (
        F.col("age_sec") < F.col("max_age_sec"))
    return u.select(
        "doc_id",
        fresh.cast("int").alias("fresh"),
        F.when(fresh, F.lit("skip"))
        .when(F.col("etag").isNotNull(), F.lit("revalidate_etag"))
        .when(F.col("last_modified").isNotNull(), F.lit("revalidate_ims"))
        .otherwise(F.lit("fetch"))
        .alias("action"),
    )


# Cyrillic/Greek -> Latin confusables (the high-frequency spoof set)
_CONFUSABLE_FROM = "аеорсхукіѕАЕОРСХКВМНТοαν"
_CONFUSABLE_TO = "aeopcxykisAEOPCXKBMHToav"


# Cyrillic look-alikes: 'p\u0430yp\u0430l account', '\u0441r\u0443pto wallet'
_HOMOGLYPH_TEXT = (
    [_TEXT, " pаypаl account"], [_TEXT, " сrуpto wallet"], [_TEXT], [_TEXT])


@query(
    "homoglyph_fold",
    f"""
    WITH u AS (
      SELECT doc_id,
             {case_sql('doc_id', _HOMOGLYPH_TEXT)} AS text
      FROM documents),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w != '') AS words
      FROM u),
    flagged AS (
      SELECT doc_id, len(words) AS n_tokens,
             len(list_filter(words, w ->
               regexp_matches(w, '[A-Za-z]')
               AND regexp_matches(w, '[{_CONFUSABLE_FROM}]')))
                 AS n_spoofed
      FROM toks)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_spoofed AS BIGINT) AS n_spoofed,
           CASE WHEN n_tokens > 0
                THEN CAST(n_spoofed * 10000 // n_tokens AS BIGINT) END
               AS spoof_bp
    FROM flagged
    """,
)
def q_homoglyph_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-script homoglyph (confusable) spoof detection — the webspam
    trick of hiding 'paypal' as 'pаypаl' with Cyrillic а:
    a token is spoofed when it mixes ASCII letters with characters from
    the high-frequency Cyrillic/Greek confusable set. Planted spoofs per
    doc_id class; counts and exact bp rate per doc. Folding the
    confusables to Latin (F.translate — zero-shuffle codegen) is the
    remediation the detector gates; the detector itself is one in-row
    HOF filter, no Python, no shuffle."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        case_col(F.col("doc_id"), _HOMOGLYPH_TEXT).alias("text"),
    )
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    spoofed = F.filter(
        words,
        lambda w: w.rlike("[A-Za-z]") & w.rlike(f"[{_CONFUSABLE_FROM}]"),
    )
    n_tok = F.size(words)
    n_sp = F.size(spoofed)
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        n_sp.cast("bigint").alias("n_spoofed"),
        F.when(n_tok > 0, F.expr(
            f"size(filter(filter(split(trim(text), '\\\\s+'), w -> w != ''),"
            f" w -> w rlike '[A-Za-z]' and w rlike '[{_CONFUSABLE_FROM}]'))"
            f" * 10000 div size(filter(split(trim(text), '\\\\s+'), w -> w != ''))"
        )).cast("bigint").alias("spoof_bp"),
    )


_LINE_DIFF_SYNTH = """
      SELECT doc_id % 97 AS url, doc_id,
             CASE WHEN v = 1 THEN
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'alpha', 'beta', 'gamma']
             WHEN doc_id % 3 = 0 THEN
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'alpha', 'beta', 'gamma']
             WHEN doc_id % 3 = 1 THEN
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'ALPHA2', 'beta', 'gamma']
             ELSE
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'alpha', 'beta', 'delta', 'extra']
             END AS lines,
             v
      FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS v)
      WHERE doc_id % 97 = doc_id
"""


@query(
    "recrawl_line_diff",
    f"""
    WITH pages AS ({_LINE_DIFF_SYNTH}),
    lines_ AS (SELECT url, v, unnest(lines) AS line FROM pages),
    counted AS (
      SELECT url, line,
             SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS c2
      FROM lines_ GROUP BY url, line),
    per_url AS (
      SELECT url,
             CAST(SUM(c1) AS BIGINT) AS n_v1_lines,
             CAST(SUM(CASE WHEN c2 > c1 THEN c2 - c1 ELSE 0 END) AS BIGINT)
                 AS n_added,
             CAST(SUM(CASE WHEN c1 > c2 THEN c1 - c2 ELSE 0 END) AS BIGINT)
                 AS n_removed
      FROM counted GROUP BY url)
    SELECT url, n_v1_lines, n_added, n_removed,
           CAST((n_added + n_removed) * 10000
                // GREATEST(n_v1_lines, 1) AS BIGINT) AS churn_bp
    FROM per_url
    """,
)
def q_recrawl_line_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level content churn between two crawl snapshots of the same
    url (the signal behind delta storage and recrawl scheduling): a
    line-multiset diff — per (url, line) conditional counts across
    versions, added = positive deltas, removed = negative — over
    deterministic synthetic two-version pages (identical / one line
    replaced / one removed + two appended).

    Scale shape: one (url, line-hash)-keyed agg with map-side partials
    (lines would ship as md5 digests at corpus scale) and one url-keyed
    rollup; no cross-version join — the version tag folds into the
    conditional aggregate, so a 10^12-page recrawl diff is two exchanges
    of digest-sized rows."""
    docs = _cpu(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 97 == F.col("doc_id"))
    spark_lines = """
      CASE WHEN v = 1 OR doc_id % 3 = 0 THEN
        array(concat('head-', cast(doc_id % 97 as string)), 'alpha', 'beta', 'gamma')
      WHEN doc_id % 3 = 1 THEN
        array(concat('head-', cast(doc_id % 97 as string)), 'ALPHA2', 'beta', 'gamma')
      ELSE
        array(concat('head-', cast(doc_id % 97 as string)), 'alpha', 'beta', 'delta', 'extra')
      END
    """
    pages = docs.crossJoin(
        F.broadcast(spark.range(1, 3).select(F.col("id").alias("v")))
    ).select(
        (F.col("doc_id") % 97).alias("url"), "v",
        F.explode(F.expr(spark_lines)).alias("line"),
    )
    counted = pages.groupBy("url", "line").agg(
        F.sum((F.col("v") == 1).cast("bigint")).alias("c1"),
        F.sum((F.col("v") == 2).cast("bigint")).alias("c2"),
    )
    per_url = counted.groupBy("url").agg(
        F.sum("c1").cast("bigint").alias("n_v1_lines"),
        F.sum(F.greatest(F.col("c2") - F.col("c1"), F.lit(0)))
        .cast("bigint").alias("n_added"),
        F.sum(F.greatest(F.col("c1") - F.col("c2"), F.lit(0)))
        .cast("bigint").alias("n_removed"),
    )
    return per_url.select(
        "url", "n_v1_lines", "n_added", "n_removed",
        F.expr("(n_added + n_removed) * 10000 div greatest(n_v1_lines, 1)")
        .cast("bigint").alias("churn_bp"),
    )


_BIDI_CHARS = "".join(chr(c) for c in range(0x202A, 0x202F)) + "".join(
    chr(c) for c in (0x2066, 0x2067, 0x2068, 0x2069))
_ZW_CHARS = "​‌‍﻿"


# an RLO..PDF bidi pair; a zero-width-split word plus a BOM
_INVISIBLE_TEXT = ([_TEXT, " \u202elive\u202c"],
                   [_TEXT, " wa\u200btch \ufeff"], [_TEXT], [_TEXT], [_TEXT])


@query(
    "invisible_chars_audit",
    f"""
    WITH u AS (
      SELECT doc_id, {case_sql('doc_id', _INVISIBLE_TEXT)} AS text
      FROM documents)
    SELECT doc_id,
           CAST(length(text)
                - length(regexp_replace(text, '[{_BIDI_CHARS}]', '', 'g'))
               AS BIGINT) AS n_bidi,
           CAST(length(text)
                - length(regexp_replace(text, '[{_ZW_CHARS}]', '', 'g'))
               AS BIGINT) AS n_zero_width,
           CAST(length(regexp_replace(text,
               '[{_BIDI_CHARS}{_ZW_CHARS}]', '', 'g')) AS BIGINT)
               AS clean_len,
           CAST(regexp_matches(text, '[{_BIDI_CHARS}{_ZW_CHARS}]') AS INT)
               AS flagged
    FROM u
    """,
)
def q_invisible_chars_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character poisoning audit (Trojan-Source-style bidi
    controls U+202A-202E / U+2066-2069 and zero-width chars
    U+200B-D / U+FEFF): per doc, counts of each class, the sanitized
    length, and the gate flag — the defense a training corpus runs
    before tokenization, where invisible characters silently split or
    reorder tokens. Planted per doc_id class (an RLO..PDF pair, a
    zero-width-split word + BOM). One zero-shuffle regexp projection."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _INVISIBLE_TEXT).alias("text"))
    bidi = f"[{_BIDI_CHARS}]"
    zw = f"[{_ZW_CHARS}]"
    both = f"[{_BIDI_CHARS}{_ZW_CHARS}]"
    return docs.select(
        "doc_id",
        (F.length("text") - F.length(F.regexp_replace("text", bidi, "")))
        .cast("bigint").alias("n_bidi"),
        (F.length("text") - F.length(F.regexp_replace("text", zw, "")))
        .cast("bigint").alias("n_zero_width"),
        F.length(F.regexp_replace("text", both, ""))
        .cast("bigint").alias("clean_len"),
        F.col("text").rlike(both).cast("int").alias("flagged"),
    )


# ===========================================================================
# TPC-H analog shapes, batch 2 (SURVEY.md §2.3-§2.6 relational coverage):
# the remaining distinct optimizer shapes — outer-join re-aggregation (Q13),
# conditional-sum ratio (Q14), scalar-max subquery (Q15), correlated-avg
# threshold (Q17), disjunctive multi-column pushdown (Q19), scalar-avg +
# anti-join (Q22), HAVING-vs-global-total (Q11), per-group argmin (Q2).
# All money carried as exact integer cents / cent-basis-points so the
# value hash is bit-stable across engines.
# ===========================================================================

@query(
    "customer_order_counts",
    """
    WITH oc AS (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority NOT LIKE '1-%'
      GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM oc GROUP BY c_count
    """,
)
def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: distribution of per-customer order counts with
    the priority filter inside the LEFT JOIN's ON clause (so zero-order
    customers survive into the c_count=0 bucket — a filter in WHERE
    would silently drop them). Two-level aggregation: the first shuffles
    on c_custkey, the second on the tiny c_count domain (≤ a few dozen
    distinct values), so the re-agg is nearly free. The shape that
    catches engines that rewrite outer joins to inner under ON-clause
    predicates."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c["c_custkey"] == o["o_custkey"])
        & (~F.col("o_orderpriority").startswith("1-")),
        "left")
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("bigint").alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist"))


@query(
    "promo_revenue_share",
    """
    WITH r AS (
      SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
             p.p_type,
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT))
               AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
    SELECT ship_month,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                AS BIGINT) AS promo_centbp,
           CAST(SUM(rev) AS BIGINT) AS total_centbp,
           CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                     AS HUGEINT)
                * 10000 // SUM(rev) AS BIGINT) AS promo_share_bp
    FROM r GROUP BY ship_month
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: monthly share of revenue from PROMO-type parts —
    the conditional-aggregation ratio shape. part projects to two columns
    and broadcasts; lineitem never shuffles before the month agg. The
    ratio is integer basis points via exact 128-bit-wide division
    (DECIMAL(38) / HUGEINT — sum(rev)·10⁴ exceeds int64 already at a
    ~60 M-row month, caught by the 100x parity sweep; both engines
    truncate non-negative division identically), so the hash compare
    holds without float tolerance."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.date_format(F.col("l_shipdate").cast("timestamp"), "yyyy-MM")
        .alias("ship_month"),
        "l_partkey",
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("rev"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("ship_month")
        .agg(
            F.sum(promo).cast("bigint").alias("promo_centbp"),
            F.sum("rev").cast("bigint").alias("total_centbp"),
        )
        .select(
            "ship_month", "promo_centbp", "total_centbp",
            F.expr("CAST(promo_centbp AS DECIMAL(38,0)) * 10000"
                   " div total_centbp")
            .cast("bigint").alias("promo_share_bp"),
        )
    )


@query(
    "top_revenue_suppliers",
    """
    WITH r AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (10000 - CAST(ROUND(l_discount * 10000) AS BIGINT)))
                  AS BIGINT) AS total_rev_centbp
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev_centbp
    FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev_centbp = (SELECT MAX(total_rev_centbp) FROM r)
    """,
    eager=True,
)
def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: supplier(s) with the maximum revenue in a
    quarter — the scalar-MAX-subquery shape, with TPC-H's tie semantics
    (ALL maximal suppliers returned, not an arbitrary LIMIT 1). The
    shipdate range reaches the scan as PushedFilters; the per-supplier
    agg shuffles once; the scalar max is a 1-row broadcast crossJoin
    (never a window funneling every supplier through one partition);
    supplier names broadcast. The per-supplier aggregate is
    localCheckpoint-ed because the crossJoin references it twice and
    Spark does not reuse the exchange across the two subtrees (verified:
    0 ReusedExchange, 2 lineitem scans without it) — at 100 TB the
    materialized frame is |suppliers| rows while the saved rescan is the
    whole fact table."""
    rev = (_cents("l_extendedprice")
           * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
              .cast("bigint")))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("timestamp")
         >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate").cast("timestamp")
           < F.lit("1997-04-01").cast("timestamp")))
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("bigint").alias("total_rev_centbp")
    ).localCheckpoint()
    top = per_supp.agg(
        F.max("total_rev_centbp").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev_centbp") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_centbp")
    )


@query(
    "small_qty_revenue",
    """
    WITH pq AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
               AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey),
    sel AS (
      SELECT p_partkey FROM part
      WHERE p_brand = 'Brand#12' AND p_size <= 10)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COALESCE(SUM(
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)), 0)
             AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN sel ON sel.p_partkey = l.l_partkey
    JOIN pq  ON pq.l_partkey = l.l_partkey
    WHERE CAST(ROUND(l.l_quantity) AS BIGINT) * 5 * pq.cnt < pq.sum_qty
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: revenue from lines whose quantity is below 20%
    of that part's average — the correlated-AVG-subquery shape,
    decorrelated into one per-part aggregate joined back to the fact.
    The avg threshold is compared in exact integers (qty·5·cnt <
    sum_qty ⇔ qty < 0.2·avg) so no float division enters the hash. The
    brand/size dim filter broadcasts; the per-part agg is the only
    shuffle; at 100 TB the join back is partkey-keyed on both sides so
    AQE can plan it as a co-partitioned SMJ."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round("l_quantity").cast("bigint").alias("qty"),
        _cents("l_extendedprice").alias("price_cents"),
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum("qty").cast("bigint").alias("sum_qty"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    sel = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    joined = (
        li.join(F.broadcast(sel), li["l_partkey"] == sel["p_partkey"])
        .join(pq.withColumnRenamed("l_partkey", "pq_partkey"),
              F.col("l_partkey") == F.col("pq_partkey"))
        .filter(F.col("qty") * 5 * F.col("cnt") < F.col("sum_qty"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.coalesce(F.sum("price_cents"), F.lit(0)).cast("bigint")
        .alias("revenue_cents"))


@query(
    "disjunct_filter_revenue",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COALESCE(SUM(
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT))), 0)
             AS BIGINT) AS revenue_centbp
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q_disjunct_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: revenue under an OR-of-ANDs predicate mixing
    part and lineitem columns — the disjunctive-pushdown shape. Catalyst
    derives the implied per-side residuals (p_brand IN (...) AND p_size
    <= 15 on the part side, l_quantity BETWEEN 1 AND 30 on the fact
    side) and pushes them below the join, so the scan prunes before the
    broadcast probe even though no single conjunct spans one table."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").alias("qty"),
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("rev"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("qty").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10)
           & F.col("qty").between(10, 20))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 15)
           & F.col("qty").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.coalesce(F.sum("rev"), F.lit(0)).cast("bigint")
            .alias("revenue_centbp"))
    )


@query(
    "idle_rich_customers",
    """
    WITH c AS (
      SELECT c_custkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acct_cents
      FROM customer),
    pos AS (
      SELECT CAST(SUM(acct_cents) AS BIGINT) AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM c WHERE acct_cents > 0)
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c.acct_cents) AS BIGINT) AS total_acctbal_cents
    FROM c, pos
    WHERE c.acct_cents * pos.n_pos > pos.sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority LIKE '1-%')
    GROUP BY c.c_mktsegment
    """,
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: customers with above-average positive balance
    and no URGENT (priority 1-) orders, rolled up by market segment —
    scalar-AVG subquery + anti-join. (The testdata generator gives every
    customer at least one order, so the literal Q22 'no orders at all'
    branch is vacuous here; anti-joining on the urgent subset keeps the
    same plan shape with a non-empty result.) The average is compared
    multiplicatively in exact cents (acct·n > sum ⇔ acct > avg) so no
    float division. The 1-row global aggregate broadcasts via crossJoin;
    the anti-join shuffles only custkeys (orders projects to two columns
    and filters to the urgent subset before the exchange)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        _cents("c_acctbal").alias("acct_cents"))
    pos = c.filter(F.col("acct_cents") > 0).agg(
        F.sum("acct_cents").cast("bigint").alias("sum_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_pos"))
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority").filter(
        F.col("o_orderpriority").startswith("1-")).select("o_custkey")
    rich = (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("acct_cents") * F.col("n_pos") > F.col("sum_cents"))
    )
    idle = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("acct_cents").cast("bigint").alias("total_acctbal_cents"))


@query(
    "part_value_share",
    """
    WITH pv AS (
      SELECT l_partkey AS p_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_parts FROM pv)
    SELECT pv.p_partkey, pv.value_cents,
           CAST(pv.value_cents * 100000 // tot.total AS BIGINT)
             AS share_cbp
    FROM pv, tot
    WHERE pv.value_cents * tot.n_parts * 2 > 3 * tot.total
    """,
)
def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: parts holding more than 1.5x the mean per-part
    inventory value — the HAVING-vs-global-total shape. (Q11's fixed
    0.01% threshold is scale-dependent — vacuous once the part count
    passes 1/frac — so the cut is expressed relative to the mean, which
    selects a stable tail at every sf; the generator's per-part value
    spread tops out near 1.9x the mean, so 1.5x cuts the top ~1%.)
    Per-part value aggregates once
    on partkey; the grand total is a second 1-row aggregate broadcast
    back (crossJoin), so the predicate costs one extra reduce, never a
    re-scan. The compare is exact int64 (value·n > 2·total ⇔ value >
    2·mean); share reported in integer centi-basis-points."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        (_cents("l_extendedprice")
         * F.round("l_quantity").cast("bigint")).alias("val"),
    )
    pv = li.groupBy("p_partkey").agg(
        F.sum("val").cast("bigint").alias("value_cents"))
    tot = pv.agg(
        F.sum("value_cents").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * F.col("n_parts") * 2
                > 3 * F.col("total"))
        .select(
            "p_partkey", "value_cents",
            F.expr("value_cents * 100000 div total").cast("bigint")
            .alias("share_cbp"))
    )


@query(
    "min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cost_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    sel AS (
      SELECT p_partkey FROM part
      WHERE p_type = 'STANDARD' AND p_size <= 5),
    ranked AS (
      SELECT ps.l_partkey AS p_partkey, ps.l_suppkey, ps.cost_cents,
             ROW_NUMBER() OVER (PARTITION BY ps.l_partkey
                                ORDER BY ps.cost_cents ASC,
                                         ps.l_suppkey ASC) AS rn
      FROM ps JOIN sel ON sel.p_partkey = ps.l_partkey)
    SELECT r.p_partkey, s.s_name, n.n_name, r.cost_cents
    FROM ranked r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.rn = 1
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: for each STANDARD small part, the supplier
    offering the lowest observed price — the per-group-argmin shape.
    The Spark side uses a struct-MIN aggregate (min over
    (cost, suppkey) tuples — map-side partials, no per-group sort, no
    window) rather than the oracle's ROW_NUMBER; the two are equivalent
    because struct ordering is lexicographic on (cost_cents, suppkey)
    and the tie-break is total. Dim filters broadcast; the only wide
    exchange is the (partkey, suppkey) aggregate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        _cents("l_extendedprice").alias("price_cents"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("price_cents").cast("bigint").alias("cost_cents"))
    sel = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 5)
    ).select("p_partkey")
    best = (
        ps.join(F.broadcast(sel), ps["l_partkey"] == sel["p_partkey"])
        .groupBy("l_partkey")
        .agg(F.min(F.struct(
            F.col("cost_cents"), F.col("l_suppkey"))).alias("m"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("m.l_suppkey").alias("l_suppkey"),
            F.col("m.cost_cents").alias("cost_cents"))
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(s), best["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("p_partkey", "s_name", "n_name", "cost_cents")
    )


# ===========================================================================
# TPC-H analog shapes, batch 3 (Q3, Q6, Q8, Q9, Q12, Q16 analogs) —
# together with batches 1-2 and the originals (Q1 pricing_summary, Q5
# region_revenue) this covers all 22 TPC-H logical shapes. Money stays
# integer cents / cent-basis-points throughout.
# ===========================================================================

@query(
    "urgent_unshipped_topk",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT)))
                AS BIGINT) AS revenue_centbp,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_centbp DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q_urgent_unshipped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: top-10 highest-value orders taken before a cutoff
    but (partly) unshipped after it, for one market segment. Both date
    predicates and the segment filter reach their scans as PushedFilters;
    customer projects to one column and broadcasts; the only wide
    exchange is lineitem⋈orders on orderkey. The global top-10 is a
    TakeOrderedAndProject (per-partition heaps + driver merge), never a
    total sort."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("timestamp")
        < F.lit("1998-06-01").cast("timestamp")).select(
        "o_orderkey", "o_custkey",
        F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd")
        .alias("order_date"),
        "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("timestamp")
        > F.lit("1998-06-01").cast("timestamp")).select(
        "l_orderkey",
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("rev"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "order_date", "o_orderpriority")
        .agg(F.sum("rev").cast("bigint").alias("revenue_centbp"))
        .select("l_orderkey", "revenue_centbp", "order_date",
                "o_orderpriority")
        .orderBy(F.desc("revenue_centbp"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "forecast_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND(l_discount * 10000) AS BIGINT))
                AS BIGINT) AS forecast_revenue_centbp,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND CAST(ROUND(l_discount * 10000) AS BIGINT) BETWEEN 200 AND 400
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: revenue gained by eliminating small discounts —
    the pure scan-aggregate shape (no join at all). The date and
    quantity predicates reach the parquet scan; the discount range is
    compared in exact integer basis points (0.02 is not representable in
    binary floating point, so a float BETWEEN would be engine-dependent
    at the boundaries). One map-side partial + 1-row reduce; at 100 TB
    this is I/O-bound by construction, the query that measures pure scan
    throughput."""
    disc_bp = F.round(F.col("l_discount") * 10000).cast("bigint")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("timestamp")
         >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate").cast("timestamp")
           < F.lit("1998-01-01").cast("timestamp"))
        & disc_bp.between(200, 400)
        & (F.col("l_quantity") < 24))
    return li.agg(
        F.sum(_cents("l_extendedprice") * disc_bp).cast("bigint")
        .alias("forecast_revenue_centbp"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"))


@query(
    "nation_market_share",
    """
    WITH vol AS (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
             ns.n_name AS supp_nation,
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT))
               AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
                   AND r.r_name = 'ASIA'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey)
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev ELSE 0 END)
                AS BIGINT) AS nation_centbp,
           CAST(SUM(rev) AS BIGINT) AS total_centbp,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
                              ELSE 0 END) AS HUGEINT)
                * 10000 // SUM(rev) AS BIGINT) AS share_bp
    FROM vol GROUP BY o_year
    """,
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: one supplier nation's share of revenue delivered
    into one region's customers, by order year — the deepest join tree
    in the suite (lineitem ⋈ orders shuffle, then customer, plus THREE
    broadcast dims: nation×2 and region, with the region filter applied
    inside the customer-side dim before the fact join). The share is a
    conditional-sum ratio in truncated integer basis points, widened to
    DECIMAL(38)/HUGEINT for the ·10⁴ step (int64 overflows at ~60 M-row
    year volumes — caught by the 100x parity sweep)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("rev"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year(F.col("o_orderdate").cast("timestamp")).cast("bigint")
        .alias("o_year"))
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # region-filtered customer dim: customers whose nation is in ASIA
    c = (_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
         .join(F.broadcast(
             n.join(r, n["n_regionkey"] == r["r_regionkey"])
             .select(F.col("n_nationkey").alias("cn_key"))),
             F.col("c_nationkey") == F.col("cn_key"))
         .select("c_custkey"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    vol = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c.hint("broadcast"), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("sn_key"))
    )
    target = F.when(F.col("supp_nation") == "NATION_2",
                    F.col("rev")).otherwise(0)
    return (
        vol.groupBy("o_year")
        .agg(F.sum(target).cast("bigint").alias("nation_centbp"),
             F.sum("rev").cast("bigint").alias("total_centbp"))
        .select("o_year", "nation_centbp", "total_centbp",
                F.expr("CAST(nation_centbp AS DECIMAL(38,0)) * 10000"
                       " div total_centbp")
                .cast("bigint").alias("share_bp"))
    )


@query(
    "part_profit_by_nation",
    """
    SELECT ns.n_name, 
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(ROUND(l.l_discount * 10000) AS BIGINT))
                    - CAST(ROUND(l.l_quantity) AS BIGINT)
                      * CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
                      * 10000) AS BIGINT) AS profit_centbp,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY ns.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    """,
)
def q_part_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog: profit (discounted revenue minus retail cost of
    goods) on widget-family parts, by supplier nation and order year.
    The p_name LIKE filter prunes the part dim before it broadcasts, so
    the fact⋈part join also prunes lineitem early; supplier and nation
    broadcast; the one big shuffle is lineitem⋈orders. Profit is exact
    signed centbp (cost scaled ×10000 to the revenue unit) — negative
    rows are meaningful and kept."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.round("l_quantity").cast("bigint").alias("qty"),
        (_cents("l_extendedprice")
         * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
            .cast("bigint"))).alias("rev"))
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")).select(
        "p_partkey", _cents("p_retailprice").alias("retail_cents"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(F.col("o_orderdate").cast("timestamp")).cast("bigint")
        .alias("o_year"))
    profit = (F.col("rev")
              - F.col("qty") * F.col("retail_cents") * F.lit(10000))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("n_name", "o_year")
        .agg(F.sum(profit).cast("bigint").alias("profit_centbp"),
             F.count(F.lit(1)).cast("bigint").alias("n_items"))
        .select("n_name", "o_year", "profit_centbp", "n_items")
    )


@query(
    "priority_by_linestatus",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog: urgent-vs-other line counts per line status for
    one ship year — the conditional-count pivot shape. The date window
    reaches the lineitem scan; orders projects to (orderkey, priority)
    before the one shuffle join; the final group-by key domain is 2
    values so the re-agg is free."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("timestamp")
         >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate").cast("timestamp")
           < F.lit("1998-01-01").cast("timestamp"))).select(
        "l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("bigint")
            .alias("low_line_count"))
    )


@query(
    "supplier_variety",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 10 AND p.p_brand <> 'Brand#12'
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier
           WHERE CAST(ROUND(s_acctbal * 100) AS BIGINT) < 200000)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: how many distinct suppliers serve each
    (brand, type, size) group, excluding a denylist of suppliers — the
    COUNT(DISTINCT) + NOT-IN shape. The denylist (low-balance suppliers
    standing in for Q16's complaint list) is a broadcast anti-join on a
    non-null key, so NOT IN never degenerates to a nested loop; the
    distinct-count is a two-phase aggregate (dedup on
    (group, suppkey) partials, then count) — Spark plans exactly that
    from the declarative form."""
    deny = _t(spark, sf_dir, "supplier").filter(
        _cents("s_acctbal") < 200000).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_brand") != "Brand#12")
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(deny),
                li["l_suppkey"] == deny["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint")
             .alias("supplier_cnt"))
    )


# ===========================================================================
# Web-page extraction surface, round-4 batch: list structure, meta-refresh
# redirects, responsive-image srcset resolution, truncation detection.
# ===========================================================================

_LISTS_HTML = (
    ["<ul><li>alpha ", 3, "</li><li>beta</li></ul><ol><li>one</li></ol>"],
    ['<UL class="nav"><LI> spaced item </LI></UL>'],
    ["no lists here ", _DOC_ID],
    ['<ol start="3"><li><b>bold</b> tail</li><li>plain ', 2, "</li></ol>"],
)
_LISTS_HTML_SQL = _docs_sql(_LISTS_HTML, "html")


@query(
    "html_lists",
    f"""
    WITH u AS ({_LISTS_HTML_SQL})
    SELECT doc,
           CAST(len(regexp_extract_all(html, '(?is)<ul[^>]*>')) AS BIGINT)
             AS n_ul,
           CAST(len(regexp_extract_all(html, '(?is)<ol[^>]*>')) AS BIGINT)
             AS n_ol,
           CAST(len(regexp_extract_all(html, '(?is)<li[^>]*>\\s*([^<]*)', 1))
                AS BIGINT) AS n_items,
           nullif(trim(regexp_extract(html, '(?is)<li[^>]*>\\s*([^<]*)', 1)),
                  '') AS first_item,
           CAST(coalesce(list_sum(list_transform(
             regexp_extract_all(html, '(?is)<li[^>]*>\\s*([^<]*)', 1),
             x -> length(trim(x)))), 0) AS BIGINT) AS sum_item_chars
    FROM u
    """,
)
def q_html_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-structure extraction over deterministic synthetic html:
    mixed ul/ol, uppercase tags, markup-first items (empty text → NULL
    first_item), pages with no lists. Zero-shuffle regexp projection;
    see functions/curation.html_lists."""
    from ocr_spark.functions.curation import html_lists

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _LISTS_HTML).alias("html"))
    return html_lists(docs, "doc_id", "html")


_REFRESH_HTML = (
    ['<meta http-equiv="refresh" content="5; url=https://next.com/p', 3, '">'],
    ['<META CONTENT="0;URL=https://r.example/x" HTTP-EQUIV="Refresh">'],
    ['<meta http-equiv="refresh" content="30">'],
    ['<meta name="viewport" content="width=1">'],
)
_REFRESH_HTML_SQL = _docs_sql(_REFRESH_HTML, "html")


@query(
    "meta_refresh",
    f"""
    WITH u AS ({_REFRESH_HTML_SQL}),
    c AS (
      SELECT doc,
             {_meta_paired_sql('meta', 'http-equiv', 'refresh', 'content')}
               AS content
      FROM u)
    SELECT doc,
           CAST(content != '' AS INT) AS has_refresh,
           CAST(nullif(regexp_extract(content, '^\\s*([0-9]+)', 1), '')
                AS BIGINT) AS refresh_delay_s,
           nullif(regexp_extract(content, '(?i)url\\s*=\\s*([^"''\\s;]+)', 1),
                  '') AS refresh_target
    FROM c
    """,
)
def q_meta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-refresh redirect parsing over synthetic html: forward and
    reversed attribute order, uppercase variant, delay-only refresh
    (NULL target), and a non-refresh meta that must not match. See
    functions/curation.meta_refresh."""
    from ocr_spark.functions.curation import meta_refresh

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _REFRESH_HTML).alias("html"))
    return meta_refresh(docs, "doc_id", "html")


_SRCSET_HTML = (
    ['<img srcset="https://i.com/a', 7, ".jpg 480w, https://i.com/b", 7,
     '.jpg 800w" src="x.jpg">'],
    ['<img srcset="https://i.com/c', 3, '.jpg 320w">'],
    ['<img src="plain.jpg">'],
    ['<img srcset="https://i.com/d.jpg 1x, https://i.com/e.jpg 2x">'],
    ['<IMG SRCSET="https://i.com/f', 2, ".jpg 100w, https://i.com/g", 2,
     '.jpg 1600w, https://i.com/h.jpg 2x">'],
)
_SRCSET_HTML_SQL = _docs_sql(_SRCSET_HTML, "html")


@query(
    "srcset_parse",
    f"""
    WITH u AS ({_SRCSET_HTML_SQL}),
    s AS (
      SELECT doc,
             regexp_extract(html, '(?i)srcset\\s*=\\s*"([^"]*)"', 1) AS ss
      FROM u),
    cand AS (
      SELECT doc,
             unnest(regexp_extract_all(ss, '([^\\s,]+)\\s+([0-9]+)w', 1))
               AS url,
             CAST(unnest(regexp_extract_all(ss, '([^\\s,]+)\\s+([0-9]+)w', 2))
                  AS BIGINT) AS w
      FROM s)
    SELECT doc,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           arg_max(url, w) AS best_url,
           CAST(MAX(w) AS BIGINT) AS best_width
    FROM cand GROUP BY doc
    """,
)
def q_srcset_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Responsive-image srcset resolution over synthetic html: multi-
    candidate width descriptors, single candidate, density-only (emits
    nothing), no srcset, uppercase attribute with mixed descriptors.
    Widths are unique within a page so the argmax is total either way;
    the Spark side is a struct-MAX (no window). See
    functions/curation.srcset_best."""
    from ocr_spark.functions.curation import srcset_best

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _SRCSET_HTML).alias("html"))
    return srcset_best(docs, "doc_id", "html")


_TRUNC_TEXT = (
    [_TEXT, " truncated mid sent"],
    [_TEXT, " done..."],
    [_TEXT, " finished."],
    [_TEXT, " stop!"],
    [_TEXT, " sent to the"],
)
_TRUNC_TEXT_SQL = _docs_sql(_TRUNC_TEXT, "text")


@query(
    "truncation_detect",
    f"""
    WITH u AS ({_TRUNC_TEXT_SQL})
    SELECT doc,
           CAST(regexp_matches(text, '[.!?"'')\\]]\\s*$') AS INT)
             AS terminal,
           CAST(regexp_matches(text, '(\\.\\.\\.|…)\\s*$') AS INT)
             AS ellipsis,
           CAST(regexp_matches(text,
             '(?i)[ ](the|a|an|and|of|to|in|with|for)\\s*$') AS INT)
             AS dangling,
           CAST(NOT regexp_matches(text, '[.!?"'')\\]]\\s*$')
                OR regexp_matches(text, '(\\.\\.\\.|…)\\s*$')
                OR regexp_matches(text,
                  '(?i)[ ](the|a|an|and|of|to|in|with|for)\\s*$')
                AS INT) AS truncated
    FROM u
    """,
)
def q_truncation_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation detection — the C4-adjacent gate for documents cut off
    mid-sentence by extraction or crawling: no terminal punctuation,
    trailing ellipsis, or a dangling function word all flag the doc.
    Planted suffixes exercise all branches deterministically. One
    zero-shuffle regexp projection."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _TRUNC_TEXT).alias("text"))
    terminal = F.col("text").rlike("[.!?\"')\\]]\\s*$")
    ellipsis = F.col("text").rlike("(\\.\\.\\.|…)\\s*$")
    dangling = F.col("text").rlike(
        "(?i)[ ](the|a|an|and|of|to|in|with|for)\\s*$")
    return docs.select(
        F.col("doc_id").alias("doc"),
        terminal.cast("int").alias("terminal"),
        ellipsis.cast("int").alias("ellipsis"),
        dangling.cast("int").alias("dangling"),
        (~terminal | ellipsis | dangling).cast("int").alias("truncated"),
    )


# ===========================================================================
# Web-page extraction surface, round-4 batch 2: pagination chain stitching,
# obfuscated-email decoding, HTML comment stripping, AMP variant detection.
# ===========================================================================

_PAGINATION_SQL = """
    SELECT 'https://s.com/a' || CAST(doc_id // 4 AS VARCHAR)
             || '/p' || CAST(doc_id % 4 AS VARCHAR) AS url,
           CASE WHEN doc_id % 4 < 3
                THEN 'https://s.com/a' || CAST(doc_id // 4 AS VARCHAR)
                     || '/p' || CAST(doc_id % 4 + 1 AS VARCHAR)
                ELSE NULL END AS next_url
    FROM documents
"""


@query(
    "pagination_chains",
    f"""
    WITH RECURSIVE pages AS ({_PAGINATION_SQL}),
    edges AS (
      SELECT url, next_url FROM pages WHERE next_url IS NOT NULL),
    chain AS (
      SELECT url, url AS head, 0 AS depth FROM pages
      WHERE url NOT IN (SELECT next_url FROM edges)
      UNION ALL
      SELECT e.next_url AS url, c.head, c.depth + 1
      FROM edges e JOIN chain c ON e.url = c.url),
    sizes AS (SELECT head, CAST(COUNT(*) AS BIGINT) AS chain_len
              FROM chain GROUP BY head)
    SELECT c.url, c.head,
           CAST(c.url = c.head AS INT) AS is_head,
           s.chain_len
    FROM chain c JOIN sizes s ON s.head = c.head
    """,
)
def q_pagination_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination-chain stitching: group rel="next"-linked pages into
    articles (every page mapped to its chain head + the chain length) —
    the assembly step before multi-page articles are merged into one
    training document. Reuses the O(log L) pointer-doubling resolver on
    the REVERSED next-edges (a page's head is the terminal of its prev
    chain), so one pathological 10 000-page paginated site costs rounds,
    not hops-many shuffles. The DuckDB twin is a recursive CTE walking
    forward from the heads. Synthetic 4-page articles derived from
    doc_id; head pages and chain membership verified value-exact."""
    from ocr_spark.functions.graph import resolve_redirects

    k = F.col("doc_id")
    url = F.concat(F.lit("https://s.com/a"),
                   (k / 4).cast("bigint").cast("string"),
                   F.lit("/p"), (k % 4).cast("string"))
    next_url = F.when(k % 4 < 3, F.concat(
        F.lit("https://s.com/a"), (k / 4).cast("bigint").cast("string"),
        F.lit("/p"), (k % 4 + 1).cast("string")))
    pages = _cpu(spark, sf_dir, "documents").select(
        url.alias("url"), next_url.alias("next_url"))
    edges = pages.filter(F.col("next_url").isNotNull())
    # head of each page = terminal of the REVERSED next-chain
    rev = edges.select(F.col("next_url").alias("src"),
                       F.col("url").alias("dst"))
    res = resolve_redirects(rev, rounds=4)
    chain = (
        pages.join(res, pages["url"] == res["src"], "left")
        .select(pages["url"],
                F.coalesce(res["final"], pages["url"]).alias("head"))
    )
    sizes = chain.groupBy("head").agg(
        F.count(F.lit(1)).cast("bigint").alias("chain_len"))
    return (
        chain.join(sizes, "head")
        .select("url", "head",
                (F.col("url") == F.col("head")).cast("int").alias("is_head"),
                "chain_len")
    )


_OBFUSCATED = (
    ["contact alice", 3, " [at] example [dot] com for info"],
    ["mail bob(at)site", 2, "(dot)org today"],
    ["write carol AT corp DOT net please"],
    ["already plain dave@real.io here"],
    ["no contact info at all"],
)
_OBFUSCATED_SQL = _docs_sql(_OBFUSCATED, "text")

_AT_PAT = (r"([A-Za-z0-9._%+-]+)\s*"
           r"(?:\[\s*at\s*\]|\(\s*at\s*\)|\s+AT\s+)\s*"
           r"([A-Za-z0-9-]+)\s*"
           r"(?:\[\s*dot\s*\]|\(\s*dot\s*\)|\s+DOT\s+)\s*"
           r"([A-Za-z]{2,})")
_PLAIN_PAT = r"([A-Za-z0-9._%+-]+@[A-Za-z0-9-]+\.[A-Za-z]{2,})"


@query(
    "email_deobfuscate",
    f"""
    WITH u AS ({_OBFUSCATED_SQL})
    SELECT doc,
           nullif(
             CASE WHEN regexp_extract(text, '{_AT_PAT}', 1) != ''
                  THEN regexp_extract(text, '{_AT_PAT}', 1) || '@'
                       || regexp_extract(text, '{_AT_PAT}', 2) || '.'
                       || regexp_extract(text, '{_AT_PAT}', 3)
                  ELSE regexp_extract(text, '{_PLAIN_PAT}', 1)
             END, '') AS email,
           CAST(regexp_extract(text, '{_AT_PAT}', 1) != '' AS INT)
             AS was_obfuscated
    FROM u
    """,
)
def q_email_deobfuscate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obfuscated-email decoding — the PII-scrub complement: scrapers'
    targets write 'alice [at] example [dot] com' precisely to evade the
    plain-email regex, so a scrubber that misses the obfuscated forms
    leaks the PII it was built to remove. Normalizes [at]/(at)/AT and
    [dot]/(dot)/DOT forms to canonical addresses; plain addresses pass
    through with was_obfuscated=0. Zero-shuffle regexp projection."""
    docs = _docs(spark, sf_dir, _OBFUSCATED, "text")
    user = F.regexp_extract("text", _AT_PAT, 1)
    rebuilt = F.concat(user, F.lit("@"),
                       F.regexp_extract("text", _AT_PAT, 2), F.lit("."),
                       F.regexp_extract("text", _AT_PAT, 3))
    plain = F.regexp_extract("text", _PLAIN_PAT, 1)
    return docs.select(
        "doc",
        F.nullif(F.when(user != "", rebuilt).otherwise(plain), F.lit(""))
        .alias("email"),
        (user != "").cast("int").alias("was_obfuscated"),
    )


_COMMENT_HTML = (
    ["<p>keep ", 3, "</p><!-- secret note --><p>also keep</p>"],
    ["before<!-- multi\nline comment -->after<!-- second -->"],
    ["<!--[if IE]><p>ie only</p><![endif]-->content"],
    ["no comments ", _DOC_ID],
)
_COMMENT_HTML_SQL = _docs_sql(_COMMENT_HTML, "html")


@query(
    "html_comment_strip",
    f"""
    WITH u AS ({_COMMENT_HTML_SQL})
    SELECT doc,
           CAST(len(regexp_extract_all(html, '(?s)<!--.*?-->')) AS BIGINT)
             AS n_comments,
           CAST(regexp_matches(html, '(?s)<!--\\[if\\s') AS INT)
             AS has_conditional,
           regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS stripped,
           CAST(length(html)
                - length(regexp_replace(html, '(?s)<!--.*?-->', '', 'g'))
               AS BIGINT) AS comment_chars
    FROM u
    """,
)
def q_html_comment_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML comment stripping — comments carry tracking payloads, dead
    markup, and IE conditional blocks that must not reach extracted
    text; this is the pre-pass count + strip with conditional-comment
    detection. Non-greedy dotall regexp so adjacent comments never merge
    across the gap. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _COMMENT_HTML, "html")
    pat = r"(?s)<!--.*?-->"
    stripped = F.regexp_replace("html", pat, "")
    return docs.select(
        "doc",
        F.size(F.regexp_extract_all("html", F.lit(pat), F.lit(0)))
        .cast("bigint").alias("n_comments"),
        F.col("html").rlike(r"(?s)<!--\[if\s").cast("int")
        .alias("has_conditional"),
        stripped.alias("stripped"),
        (F.length("html") - F.length(stripped)).cast("bigint")
        .alias("comment_chars"),
    )


_AMP_HTML = (
    ['<html><link rel="amphtml" href="https://m.site/amp/', 5,
     '"><body>canonical page'],
    ['<html amp><link rel="canonical" href="https://site/p', 3,
     '"><body>amp page'],
    ["<html ⚡><body>emoji amp page"],
    ["<html><body>ordinary page ", _DOC_ID],
)
_AMP_HTML_SQL = _docs_sql(_AMP_HTML, "html")


@query(
    "amp_variant_detect",
    f"""
    WITH u AS ({_AMP_HTML_SQL})
    SELECT doc,
           nullif({_meta_paired_sql('link', 'rel', 'amphtml', 'href')}, '')
             AS amp_url,
           CAST(regexp_matches(html, '(?i)<html[^>]*(\\s(amp|⚡))([\\s>]|$)')
                AS INT) AS is_amp_page,
           nullif({_meta_paired_sql('link', 'rel', 'canonical', 'href')}, '')
             AS canonical_url
    FROM u
    """,
)
def q_amp_variant_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMP variant detection — AMP mirrors are the highest-volume
    near-duplicate family in a web crawl; a corpus that keeps both the
    canonical and its AMP twin double-counts the content. Detects the
    rel="amphtml" pointer on canonical pages and the <html amp>/<html ⚡>
    marker (plus its rel="canonical" backlink) on AMP pages, the two
    sides dedup needs to pair them. Zero-shuffle projection."""
    from ocr_spark.functions.curation import _paired_attr

    docs = _docs(spark, sf_dir, _AMP_HTML, "html")
    h = F.col("html")
    return docs.select(
        "doc",
        F.nullif(_paired_attr(h, "link", "rel", "amphtml", "href"),
                 F.lit("")).alias("amp_url"),
        h.rlike(r"(?i)<html[^>]*(\s(amp|⚡))([\s>]|$)").cast("int")
        .alias("is_amp_page"),
        F.nullif(_paired_attr(h, "link", "rel", "canonical", "href"),
                 F.lit("")).alias("canonical_url"),
    )


@query(
    "streaming_click_attribution",
    """
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts AS view_ts
      FROM events WHERE event_type = 'view'),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'),
    pairs AS (
      SELECT v.user_id, v.view_id, c.click_id,
             CAST(FLOOR(EXTRACT(EPOCH FROM c.click_ts - v.view_ts))
                  AS BIGINT) AS gap_s
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.click_ts >= v.view_ts
       AND c.click_ts <= v.view_ts + INTERVAL 360 MINUTE)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM pairs GROUP BY user_id
    """,
    eager=True,
)
def q_streaming_click_attribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """A REAL stream-stream watermarked INTERVAL join, value-checked
    against the batch oracle: views and clicks are written as 2 files
    each and read as two separate streams with maxFilesPerTrigger=1
    under availableNow, so pairs MUST match across micro-batches through
    the join state store (a single-batch run would prove nothing). Every
    (view, click) pair for the same user within 6 hours appends
    exactly-once to a parquet sink; the returned frame is the per-user
    attribution rollup of that sink, which must equal the one-shot batch
    interval join. Completes the stateful-streaming triad: windowed agg
    (streaming_event_rollup), applyInPandasWithState dedup
    (streaming_dedup_events), dual-sided join state (this).
    Gap seconds floor toward zero in both engines (non-negative here)."""
    import shutil
    import tempfile

    from ocr_spark.streaming.incremental import stream_interval_join

    base = tempfile.mkdtemp(prefix="ocr_spark_stream_join_")
    try:
        ev = _t(spark, sf_dir, "events")
        views_dir = os.path.join(base, "views")
        clicks_dir = os.path.join(base, "clicks")
        (ev.filter(F.col("event_type") == "view")
         .repartition(2, "event_id").write.parquet(views_dir))
        (ev.filter(F.col("event_type") == "click")
         .repartition(2, "event_id").write.parquet(clicks_dir))
        out_dir = os.path.join(base, "pairs")
        q = stream_interval_join(
            spark, views_dir, clicks_dir, out_dir,
            checkpoint_dir=os.path.join(base, "ckpt"),
            max_gap_minutes=360, watermark="12 hours")
        q.awaitTermination()
        pairs = spark.read.parquet(out_dir).select(
            "user_id",
            F.floor((F.col("click_ts").cast("double")
                     - F.col("view_ts").cast("double")))
            .cast("bigint").alias("gap_s"))
        rolled = pairs.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("gap_s").cast("bigint").alias("sum_gap_s"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"))
        return spark.createDataFrame(rolled.collect(), rolled.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ===========================================================================
# Round-4 batch: HTML→Markdown conversion, tokenizer fertility, and
# Poisson crawl-change-rate estimation.
# ===========================================================================

_MD_HTML = (
    ["<h2>Title ", 7, "</h2><p>Intro paragraph.</p>"],
    ["<h3>Sub</h3><ul><li>alpha</li><li>beta ", 3, "</li></ul>"],
    ['<p>see <a href="https://ex.org/p', 9, '">page ', 9, "</a> now</p>"],
    ["<pre><code>x = ", 4, "\nprint(x)</code></pre><p>tail</p>"],
    ["<blockquote>wise words ", 6, "</blockquote>"],
)
_MD_HTML_SQL = _docs_sql(_MD_HTML, "html")


@query(
    "html_to_markdown",
    f"""
    WITH u AS ({_MD_HTML_SQL}),
    conv AS (
      SELECT doc, html,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?s)<pre><code>(.*?)</code></pre>',
               e'\n```\n\\\\1\n```\n', 'g'),
               '<h2[^>]*>(.*?)</h2>', e'\n## \\\\1\n', 'g'),
               '<h3[^>]*>(.*?)</h3>', e'\n### \\\\1\n', 'g'),
               '<li[^>]*>(.*?)</li>', e'\n- \\\\1', 'g'),
               '(?s)<blockquote[^>]*>(.*?)</blockquote>',
               e'\n> \\\\1\n', 'g'),
               '<a href="([^"]*)"[^>]*>(.*?)</a>',
               '[\\2](\\1)', 'g'),
               '<[^>]*>', '', 'g'),
               e'\n{{3,}}', e'\n\n', 'g'),
             e' \n') AS markdown
      FROM u)
    SELECT doc, markdown,
           CAST(len(regexp_extract_all(html, '<h[23][^>]*>')) AS BIGINT)
             AS n_headings,
           CAST(len(regexp_extract_all(html, '<li[^>]*>')) AS BIGINT)
             AS n_list_items,
           CAST(len(regexp_extract_all(html, '<a href="')) AS BIGINT)
             AS n_links,
           CAST(len(regexp_extract_all(html, '<pre><code>')) AS BIGINT)
             AS n_code_blocks
    FROM conv
    """,
)
def q_html_to_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-preserving HTML→Markdown conversion — the modern
    LLM-corpus extraction target (headings, lists, fenced code, quotes,
    and links survive as lightweight markup instead of being flattened
    to prose). Ordered regexp rewrites: fenced code FIRST (its body must
    not be re-matched by later tag rules), then h2/h3/li/blockquote/a,
    then a residual-tag strip and a blank-line collapse. Zero-shuffle
    projection; at 100 TB this runs scan-local exactly like the
    boilerplate pass (SURVEY §2.2 G-family analog, composition layer
    over the html_lists / headings extractors)."""
    docs = _docs(spark, sf_dir, _MD_HTML, "html")
    return docs.withColumn("markdown_raw", _md_chain(F.col("html"))).select(
        "doc",
        F.expr("trim(BOTH ' \n' FROM markdown_raw)").alias("markdown"),
        F.size(F.regexp_extract_all("html", F.lit(r"<h[23][^>]*>"), F.lit(0)))
        .cast("bigint").alias("n_headings"),
        F.size(F.regexp_extract_all("html", F.lit(r"<li[^>]*>"), F.lit(0)))
        .cast("bigint").alias("n_list_items"),
        F.size(F.regexp_extract_all("html", F.lit('<a href="'), F.lit(0)))
        .cast("bigint").alias("n_links"),
        F.size(F.regexp_extract_all("html", F.lit("<pre><code>"), F.lit(0)))
        .cast("bigint").alias("n_code_blocks"),
    )


def _md_chain(html: Column) -> Column:
    """The ordered HTML→Markdown rewrite chain (shared by the query body
    so the synth column is rewritten exactly once)."""
    nl = "\n"
    md = html
    for pat, rep in [
        (r"(?s)<pre><code>(.*?)</code></pre>",
         nl + "```" + nl + "$1" + nl + "```" + nl),
        (r"<h2[^>]*>(.*?)</h2>", nl + "## $1" + nl),
        (r"<h3[^>]*>(.*?)</h3>", nl + "### $1" + nl),
        (r"<li[^>]*>(.*?)</li>", nl + "- $1"),
        (r"(?s)<blockquote[^>]*>(.*?)</blockquote>", nl + "> $1" + nl),
        (r'<a href="([^"]*)"[^>]*>(.*?)</a>', "[$2]($1)"),
        (r"<[^>]*>", ""),
        ("\n{3,}", nl + nl),
    ]:
        md = F.regexp_replace(md, pat, rep)
    return md


@query(
    "tokenizer_fertility",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[^ \t\n]+'))) AS BIGINT)
             AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+')))
                + SUM(length(regexp_replace(text, '[A-Za-z0-9_ \t\n]', '',
                                            'g'))) AS BIGINT) AS n_tokens,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           CAST((SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+')))
                 + SUM(length(regexp_replace(text, '[A-Za-z0-9_ \t\n]', '',
                                             'g')))) * 10000
                // GREATEST(SUM(len(regexp_extract_all(text, '[^ \t\n]+'))),
                            1) AS BIGINT) AS fertility_bp,
           CAST(SUM(octet_length(encode(text))) * 10000
                // GREATEST(SUM(len(regexp_extract_all(text,
                                                       '[A-Za-z0-9_]+')))
                            + SUM(length(regexp_replace(
                                  text, '[A-Za-z0-9_ \t\n]', '', 'g'))), 1)
               AS BIGINT) AS bytes_per_token_bp
    FROM documents
    GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — tokens-per-word and
    bytes-per-token in exact basis points, the eval that decides whether
    a vocabulary under-serves a language (high fertility = more tokens
    per word = higher serving cost; the metric behind multilingual vocab
    sizing). Token model = the suite's BPE-ish pre-tokenization: ASCII
    word-char runs count one token each, every other non-space char is
    its own (byte-fallback) token — so non-Latin scripts naturally show
    the fertility penalty a Latin-centric vocab imposes. All counts are
    exact integers; one lang-keyed partial agg, no shuffle of text."""
    t = F.col("text")
    word_runs = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9_]+"),
                                            F.lit(0)))
    punct = F.length(F.regexp_replace(t, "[A-Za-z0-9_ \t\n]", ""))
    words = F.size(F.regexp_extract_all("text", F.lit("[^ \t\n]+"),
                                        F.lit(0)))
    per = _cpu(spark, sf_dir, "documents").select(
        "lang", words.alias("w"), (word_runs + punct).alias("tok"),
        F.octet_length(t).alias("b"))
    return (
        per.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("w").cast("bigint").alias("n_words"),
             F.sum("tok").cast("bigint").alias("n_tokens"),
             F.sum("b").cast("bigint").alias("n_bytes"))
        .select("lang", "n_docs", "n_words", "n_tokens", "n_bytes",
                F.expr("n_tokens * 10000 div GREATEST(n_words, 1)")
                .cast("bigint").alias("fertility_bp"),
                F.expr("n_bytes * 10000 div GREATEST(n_tokens, 1)")
                .cast("bigint").alias("bytes_per_token_bp"))
    )


_CAPTURE_HISTORY_SQL = """
    SELECT d.doc_id AS url_id,
           u.k AS k,
           (d.doc_id * 7 + u.k // (1 + d.doc_id % 3)) AS digest
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
                    0, CAST(2 + d.doc_id % 4 AS BIGINT))) AS k) u
"""


@query(
    "crawl_change_rate",
    f"""
    WITH caps AS ({_CAPTURE_HISTORY_SQL}),
    flags AS (
      SELECT url_id, k,
             CASE WHEN digest != LAG(digest) OVER w THEN 1 ELSE 0 END
               AS changed,
             CASE WHEN LAG(digest) OVER w IS NULL THEN 0 ELSE 1 END
               AS is_interval
      FROM caps
      WINDOW w AS (PARTITION BY url_id ORDER BY k)),
    est AS (
      SELECT url_id,
             CAST(SUM(is_interval) AS BIGINT) AS n_intervals,
             CAST(SUM(changed) AS BIGINT) AS n_changes
      FROM flags GROUP BY url_id)
    SELECT url_id, n_intervals, n_changes,
           CAST(ROUND(-LN((n_intervals - n_changes + 0.5)
                          / (n_intervals + 0.5)) * 1000000) AS BIGINT)
             AS lambda_micro,
           CASE
             WHEN ROUND(-LN((n_intervals - n_changes + 0.5)
                            / (n_intervals + 0.5)) * 1000000) >= 600000
               THEN 'fast'
             WHEN ROUND(-LN((n_intervals - n_changes + 0.5)
                            / (n_intervals + 0.5)) * 1000000) >= 250000
               THEN 'medium'
             ELSE 'slow'
           END AS revisit_tier
    FROM est
    """,
)
def q_crawl_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson change-rate estimation per url from recrawl history — the
    Cho & Garcia-Molina estimator r̂ = -ln((n - X + 0.5)/(n + 0.5)) over
    n revisit intervals of which X observed a content-digest change (the
    +0.5 terms are the bias correction that keeps the estimate finite
    when every revisit changed). Drives revisit scheduling: 'fast' hosts
    get recrawled often, 'slow' ones archived. Capture histories are the
    deterministic synthetic (url changes every 1+url%3 fetches); the
    real input is the CDX capture table (cdx_index). One url-keyed
    window then a url-keyed agg — the window's shuffle partitioning is
    reused by the agg, so one Exchange total; ln is the only float op,
    applied once per url to a ratio of exact integers and rounded to
    micro-units, the suite's cross-engine-stable pattern."""
    d = _cpu(spark, sf_dir, "documents").select("doc_id")
    caps = d.select(
        F.col("doc_id").alias("url_id"),
        F.explode(F.sequence(F.lit(0), (F.lit(2) + F.col("doc_id") % 4)
                             .cast("bigint"))).alias("k"),
    ).select(
        "url_id", "k",
        (F.col("url_id") * 7
         + F.expr("k div (1 + url_id % 3)")).alias("digest"))
    w = Window.partitionBy("url_id").orderBy("k")
    prev = F.lag("digest").over(w)
    flags = caps.select(
        "url_id",
        F.when(prev.isNull(), 0).otherwise(1).alias("is_interval"),
        F.when(F.col("digest") != prev, 1).otherwise(0).alias("changed"))
    est = flags.groupBy("url_id").agg(
        F.sum("is_interval").cast("bigint").alias("n_intervals"),
        F.sum("changed").cast("bigint").alias("n_changes"))
    lam = F.round(
        -F.log((F.col("n_intervals") - F.col("n_changes") + 0.5)
               / (F.col("n_intervals") + 0.5)) * 1000000)
    return est.select(
        "url_id", "n_intervals", "n_changes",
        lam.cast("bigint").alias("lambda_micro"),
        F.when(lam >= 600000, "fast")
        .when(lam >= 250000, "medium")
        .otherwise("slow").alias("revisit_tier"))


_PAYWALL_HTML = (
    ['<script type="application/ld+json">{"isAccessibleForFree": '
     "false}</script><p>Article intro ", 7, "</p><div "
     'class="paywall">Subscribe to continue reading</div>'],
    ["<p>free article body ", 9, "</p>"],
    ['<div class="subscribe-wall">Already a subscriber? Log '
     "in</div><p>teaser ", 4, "</p>"],
    ['<script type="application/ld+json">{"isAccessibleForFree": '
     "true}</script><p>open news ", 6, "</p>"],
    ["<p>Sign up for our newsletter</p><p>content ", _DOC_ID,
     "</p>"],
)
_PAYWALL_HTML_SQL = _docs_sql(_PAYWALL_HTML, "html")


@query(
    "paywall_detect",
    f"""
    WITH u AS ({_PAYWALL_HTML_SQL})
    SELECT doc,
           CAST(regexp_matches(html,
                '"isAccessibleForFree"\\s*:\\s*false') AS INT)
             AS jsonld_not_free,
           CAST(regexp_matches(html,
                'class="[^"]*(paywall|subscribe-wall|meteredContent)')
               AS INT) AS wall_class,
           CAST(regexp_matches(html,
                '(Subscribe to continue|Already a subscriber)') AS INT)
             AS cta_phrase,
           CAST(CASE WHEN regexp_matches(html,
                  '"isAccessibleForFree"\\s*:\\s*false')
                 OR regexp_matches(html,
                  'class="[^"]*(paywall|subscribe-wall|meteredContent)')
                 OR regexp_matches(html,
                  '(Subscribe to continue|Already a subscriber)')
                THEN 1 ELSE 0 END AS INT) AS paywalled
    FROM u
    """,
)
def q_paywall_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paywall / login-wall detection — paywalled teasers are truncated,
    low-value training text that inflates dedup clusters (every teaser of
    one article is near-identical), so corpus curation gates them out.
    Three independent signals: the schema.org JSON-LD
    ``isAccessibleForFree: false`` declaration (the spec-compliant
    channel), wall-container CSS classes, and call-to-action phrases;
    a newsletter CTA (the common false-positive) trips none of them.
    Zero-shuffle projection over the page scan."""
    docs = _docs(spark, sf_dir, _PAYWALL_HTML, "html")
    not_free = F.col("html").rlike(r'"isAccessibleForFree"\s*:\s*false')
    wall = F.col("html").rlike(
        'class="[^"]*(paywall|subscribe-wall|meteredContent)')
    cta = F.col("html").rlike("(Subscribe to continue|Already a subscriber)")
    return docs.select(
        "doc",
        not_free.cast("int").alias("jsonld_not_free"),
        wall.cast("int").alias("wall_class"),
        cta.cast("int").alias("cta_phrase"),
        (not_free | wall | cta).cast("int").alias("paywalled"))


_CODE_TEXT = (
    ["def f(x):\n    return x + ", 5, "\n\nclass A:\n    pass"],
    ["The quick brown fox jumps over the lazy dog ", 8, ". It was a bright "
     "cold day in April."],
    ["function add(a, b) { return a + b; }\nconst x = add(1, ", 3, ");"],
    ["Mixed prose where x = 1 denotes assignment, case ", 6, "."],
)
_CODE_TEXT_SQL = _docs_sql(_CODE_TEXT, "text")


@query(
    "code_detect",
    f"""
    WITH u AS ({_CODE_TEXT_SQL})
    SELECT doc,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]]', '', 'g'))
               AS BIGINT) AS symbol_chars,
           CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]]', '', 'g'))
                * 10000 // GREATEST(length(text), 1) AS BIGINT)
             AS symbol_bp,
           CAST(len(regexp_extract_all(text,
                '\\b(def|function|class|import|return|const|var)\\b'))
               AS BIGINT) AS kw_hits,
           CAST(len(regexp_extract_all(text, '(?m)^(    |\\t)')) AS BIGINT)
             AS indented_lines,
           CAST(CASE WHEN length(regexp_replace(text, '[^{{}}();=<>\\[\\]]',
                                                '', 'g'))
                      * 10000 // GREATEST(length(text), 1) >= 300
                      AND len(regexp_extract_all(text,
                        '\\b(def|function|class|import|return|const|var)\\b'))
                          >= 2
                THEN 1 ELSE 0 END AS INT) AS is_code
    FROM u
    """,
)
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-content detection — routing documents into code vs prose
    corpora (and keeping stray code out of a prose LM mix) needs a
    deterministic gate long before a learned classifier exists. Exact
    signals: code-symbol density in basis points (braces, parens,
    operators via a single char-class strip — the translate-style
    zero-regex-backtracking pattern), reserved-word hits, and indented
    lines; the gate needs BOTH density and keywords so symbol-heavy
    prose (case 3) stays prose. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _CODE_TEXT, "text")
    sym = F.length(F.regexp_replace("text", r"[^{}();=<>\[\]]", ""))
    kw = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b(def|function|class|import|return|const|var)\b"),
        F.lit(0)))
    n = F.length("text")
    sym_bp = F.expr(
        "length(regexp_replace(text, '[^{}();=<>\\\\[\\\\]]', '')) * 10000"
        " div GREATEST(length(text), 1)")
    return docs.select(
        "doc",
        n.cast("bigint").alias("n_chars"),
        sym.cast("bigint").alias("symbol_chars"),
        sym_bp.cast("bigint").alias("symbol_bp"),
        kw.cast("bigint").alias("kw_hits"),
        F.size(F.regexp_extract_all("text", F.lit(r"(?m)^(    |\t)"),
                                    F.lit(0)))
        .cast("bigint").alias("indented_lines"),
        ((sym_bp >= 300) & (kw >= 2)).cast("int").alias("is_code"))


_CITED_TEXT = (
    ["Fact one.[1] Fact two.[2] More on this topic.[1] Tail ", 5, "\n"
     "References\n[1] Source A\n[2] Source B"],
    ["Plain paragraph without citations ", 7, "."],
    ["Claim.[12] Another claim.[3] And a third.[12] ", 3, "\nBibliography\n"
     "[3] Paper X"],
    ["Text mentioning a [TODO] placeholder ", 9, "."],
)
_CITED_TEXT_SQL = _docs_sql(_CITED_TEXT, "text")


@query(
    "citation_density",
    f"""
    WITH u AS ({_CITED_TEXT_SQL}),
    split AS (
      SELECT doc, text,
             regexp_replace(text, '(?s)(?m)^(References|Bibliography)$.*',
                            '') AS body,
             CAST(regexp_matches(text,
                  '(?m)^(References|Bibliography)$') AS INT) AS has_refs
      FROM u)
    SELECT doc, has_refs,
           CAST(len(regexp_extract_all(body, '\\[[0-9]{{1,3}}\\]'))
               AS BIGINT) AS n_citations,
           CAST(len(list_distinct(regexp_extract_all(body,
                '\\[[0-9]{{1,3}}\\]'))) AS BIGINT) AS n_distinct_refs,
           CAST(len(regexp_extract_all(body, '\\[[0-9]{{1,3}}\\]')) * 1000
                // GREATEST(len(regexp_extract_all(body, '[^ \t\n]+')), 1)
               AS BIGINT) AS citations_per_kword
    FROM split
    """,
)
def q_citation_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiki-style citation-density scoring — bracketed numeric markers per
    1000 body words plus a References/Bibliography section flag, a strong
    referenced-quality prior for encyclopedic corpus curation (the signal
    behind "cited text is high quality" heuristics). The reference
    section is cut BEFORE counting so its own [n] labels don't inflate
    the density; non-numeric brackets ([TODO]) never count. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _CITED_TEXT, "text")
    body = F.regexp_replace(
        "text", r"(?s)(?m)^(References|Bibliography)$.*", "")
    cite_pat = r"\[[0-9]{1,3}\]"
    cites = F.regexp_extract_all(body, F.lit(cite_pat), F.lit(0))
    words = F.size(F.regexp_extract_all(body, F.lit("[^ \t\n]+"), F.lit(0)))
    return docs.select(
        "doc",
        F.col("text").rlike(r"(?m)^(References|Bibliography)$")
        .cast("int").alias("has_refs"),
        F.size(cites).cast("bigint").alias("n_citations"),
        F.size(F.array_distinct(cites)).cast("bigint")
        .alias("n_distinct_refs"),
        F.expr("CAST(size(regexp_extract_all(regexp_replace(text,"
               " '(?s)(?m)^(References|Bibliography)$.*', ''),"
               " '\\\\[[0-9]{1,3}\\\\]', 0)) * 1000 AS BIGINT)"
               " div GREATEST(size(regexp_extract_all(regexp_replace(text,"
               " '(?s)(?m)^(References|Bibliography)$.*', ''),"
               " '[^ \\t\\n]+', 0)), 1)")
        .cast("bigint").alias("citations_per_kword"))


_LICENSE_HTML = (
    ['<a rel="license" '
     'href="https://creativecommons.org/licenses/by/4.0/">CC BY '
     "4.0</a><p>article ", 5, "</p>"],
    ['<a rel="license" '
     'href="https://creativecommons.org/licenses/by-nc-nd/3.0/">some rights '
     "reserved</a>"],
    ["<p>Copyright 2024 Example Corp. All rights reserved.</p>"],
    ["// SPDX-License-Identifier: MIT\ncode body ", 7],
    ['<p>Dedicated to the public domain.</p><a rel="license" '
     'href="https://creativecommons.org/publicdomain/zero/1.0/">CC0</a>'],
    ["<p>no license info ", _DOC_ID, "</p>"],
)
_LICENSE_HTML_SQL = _docs_sql(_LICENSE_HTML, "html")


@query(
    "license_detect",
    f"""
    WITH u AS ({_LICENSE_HTML_SQL}),
    ext AS (
      SELECT doc,
             nullif(regexp_extract(html,
               'creativecommons\\.org/(licenses|publicdomain)/([a-z-]+)/',
               2), '') AS cc_variant,
             nullif(regexp_extract(html,
               'SPDX-License-Identifier: ([A-Za-z0-9.-]+)', 1), '')
               AS spdx_id,
             CAST(regexp_matches(html, 'All rights reserved') AS INT)
               AS all_rights_reserved
      FROM u)
    SELECT doc, cc_variant, spdx_id, all_rights_reserved,
           CAST(CASE WHEN cc_variant IN ('by', 'by-sa', 'zero')
                       OR spdx_id IN ('MIT', 'Apache-2.0', 'BSD-3-Clause')
                THEN 1 ELSE 0 END AS INT) AS redistributable
    FROM ext
    """,
)
def q_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License detection — training-data curation must separate
    redistributable content (CC BY/BY-SA/CC0, permissive SPDX) from
    all-rights-reserved and NC/ND-restricted pages BEFORE anything else
    touches the corpus. Signals: the rel=license CC URL (machine-readable
    channel, variant slug extracted from the path), SPDX identifiers
    (the code-corpus channel), and the all-rights-reserved text marker.
    Zero-shuffle projection; the variant slug — not the page — is what
    downstream policy joins on."""
    docs = _docs(spark, sf_dir, _LICENSE_HTML, "html")
    cc = F.nullif(F.regexp_extract(
        "html", r"creativecommons\.org/(licenses|publicdomain)/([a-z-]+)/",
        2), F.lit(""))
    spdx = F.nullif(F.regexp_extract(
        "html", r"SPDX-License-Identifier: ([A-Za-z0-9.-]+)", 1),
        F.lit(""))
    return docs.select(
        "doc", cc.alias("cc_variant"), spdx.alias("spdx_id"),
        F.col("html").rlike("All rights reserved").cast("int")
        .alias("all_rights_reserved"),
        # NULL-safe: a page with no license signal is NOT redistributable
        # (isin on NULL yields NULL, which must read as 0, not unknown)
        F.coalesce(cc.isin("by", "by-sa", "zero").cast("int"), F.lit(0))
        .bitwiseOR(F.coalesce(
            spdx.isin("MIT", "Apache-2.0", "BSD-3-Clause").cast("int"),
            F.lit(0)))
        .cast("int").alias("redistributable"))


_IMG_HTML = (
    ['<img src="/a', 5, '.jpg" alt="A red fox in the snow"><p>text</p><img '
     'src="/b.png" alt="Chart of results">'],
    ['<img src="/spacer.gif" alt=""><img src="/logo.svg">'],
    ["<p>no images here ", _DOC_ID, "</p>"],
    ['<img alt="Portrait of the author" src="/p', 3, '.webp">'],
)
_IMG_HTML_SQL = _docs_sql(_IMG_HTML, "html")


@query(
    "img_alt_pairs",
    f"""
    WITH u AS ({_IMG_HTML_SQL}),
    tags AS (
      SELECT doc, unnest(regexp_extract_all(html, '<img [^>]*>')) AS tag
      FROM u),
    pairs AS (
      SELECT doc,
             nullif(regexp_extract(tag, 'src="([^"]*)"', 1), '') AS src,
             nullif(regexp_extract(tag, 'alt="([^"]*)"', 1), '') AS alt
      FROM tags)
    SELECT doc, src, alt,
           CAST(len(regexp_extract_all(alt, '[^ ]+')) AS BIGINT)
             AS alt_words
    FROM pairs
    WHERE alt IS NOT NULL
    """,
)
def q_img_alt_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image–alt-text pair extraction — the raw material for
    image-caption training sets (LAION-style pairing starts exactly
    here: every <img> with a non-empty alt becomes a candidate
    (image-url, caption) row). Attribute order must not matter (case 3
    puts alt before src) and empty/missing alts drop. One explode per
    page bounded by its img count; downstream joins on src to the fetch
    table. Per-pair caption word count feeds the alt-quality filter."""
    docs = _docs(spark, sf_dir, _IMG_HTML, "html")
    tags = docs.select(
        "doc",
        F.explode(F.regexp_extract_all(
            "html", F.lit("<img [^>]*>"), F.lit(0))).alias("tag"))
    pairs = tags.select(
        "doc",
        F.nullif(F.regexp_extract("tag", 'src="([^"]*)"', 1), F.lit(""))
        .alias("src"),
        F.nullif(F.regexp_extract("tag", 'alt="([^"]*)"', 1), F.lit(""))
        .alias("alt"))
    return pairs.filter(F.col("alt").isNotNull()).select(
        "doc", "src", "alt",
        F.size(F.regexp_extract_all("alt", F.lit("[^ ]+"), F.lit(0)))
        .cast("bigint").alias("alt_words"))


_TOX_TEXT = (
    ["What the hell is this damn thing doing ", 5],
    ["A perfectly pleasant paragraph about gardens ", 7, "."],
    ["I hate this stupid broken idiot machine, what the hell."],
    ["Shell shellfish hello helluva hatering ", 3],
)
_TOX_TEXT_SQL = _docs_sql(_TOX_TEXT, "text")


@query(
    "toxicity_gate",
    f"""
    WITH u AS ({_TOX_TEXT_SQL}),
    hits AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(damn|hell|idiot|stupid|hate)\\b')) AS BIGINT)
               AS n_hits,
             CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
               AS n_words
      FROM u)
    SELECT doc, n_hits, n_words,
           CAST(n_hits * 1000 // GREATEST(n_words, 1) AS BIGINT)
             AS hits_per_kword,
           CAST(CASE WHEN n_hits * 1000 // GREATEST(n_words, 1) >= 300
                THEN 1 ELSE 0 END AS INT) AS gated
    FROM hits
    """,
)
def q_toxicity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic wordlist toxicity gate — the first-pass profanity
    filter every corpus pipeline runs before a learned classifier
    exists (C4 ran exactly this against a public denylist). Whole-word
    case-insensitive matches only, so 'shell'/'hello'/'hatering' never
    count (the substring false-positive class that naive filters hit);
    density in hits-per-1000-words gates, not raw counts, so long
    documents aren't penalized for one quote. Zero-shuffle projection;
    the denylist is a stand-in — the real list broadcasts the same way."""
    docs = _docs(spark, sf_dir, _TOX_TEXT, "text")
    hits = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?i)\b(damn|hell|idiot|stupid|hate)\b"), F.lit(0)))
    words = F.size(F.regexp_extract_all("text", F.lit("[^ ]+"), F.lit(0)))
    per_kw = F.expr(
        "size(regexp_extract_all(text,"
        " '(?i)\\\\b(damn|hell|idiot|stupid|hate)\\\\b', 0)) * 1000"
        " div GREATEST(size(regexp_extract_all(text, '[^ ]+', 0)), 1)")
    return docs.select(
        "doc", hits.cast("bigint").alias("n_hits"),
        words.cast("bigint").alias("n_words"),
        per_kw.cast("bigint").alias("hits_per_kword"),
        (per_kw >= 300).cast("int").alias("gated"))


_AD_HTML = (
    ['<div class="content"><p>real text ', 5, "</p></div><div "
     'class="ad-banner">Buy now!</div><div id="ads-footer">promo</div>'],
    ['<iframe src="https://adserver.example/slot1"></iframe><p>short ', 3,
     "</p>"],
    ['<div class="article"><p>long clean article body ', 7, "</p></div>"],
    ['<div class="sponsored">Sponsored content</div><script '
     'src="https://ads.example/t.js"></script><p>mix ', _DOC_ID,
     "</p>"],
)
_AD_HTML_SQL = _docs_sql(_AD_HTML, "html")


@query(
    "ad_density",
    f"""
    WITH u AS ({_AD_HTML_SQL})
    SELECT doc,
           CAST(len(regexp_extract_all(html,
                '(class|id)="[^"]*(ad-|ads|advert|sponsor|promo)')) AS BIGINT)
             AS n_ad_containers,
           CAST(len(regexp_extract_all(html, '<iframe ')) AS BIGINT)
             AS n_iframes,
           CAST(len(regexp_extract_all(html,
                '<script src="[^"]*(ads|adserver)')) AS BIGINT)
             AS n_ad_scripts,
           CAST(CASE WHEN len(regexp_extract_all(html,
                  '(class|id)="[^"]*(ad-|ads|advert|sponsor|promo)'))
                 + len(regexp_extract_all(html, '<iframe '))
                 + len(regexp_extract_all(html,
                  '<script src="[^"]*(ads|adserver)')) >= 2
                THEN 1 ELSE 0 END AS INT) AS ad_heavy
    FROM u
    """,
)
def q_ad_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-density scoring — ad-farm pages (MFA, 'made for advertising')
    are the highest-volume low-quality stratum of any crawl; counting ad
    containers by class/id signature, ad iframes, and ad-network script
    tags is the deterministic pre-filter before quality models. The
    ad_heavy gate (≥2 independent ad signals) feeds the curation funnel
    next to quality_gate. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _AD_HTML, "html")
    containers = F.size(F.regexp_extract_all(
        "html", F.lit('(class|id)="[^"]*(ad-|ads|advert|sponsor|promo)'),
        F.lit(0)))
    iframes = F.size(F.regexp_extract_all("html", F.lit("<iframe "),
                                          F.lit(0)))
    scripts = F.size(F.regexp_extract_all(
        "html", F.lit('<script src="[^"]*(ads|adserver)'), F.lit(0)))
    return docs.select(
        "doc",
        containers.cast("bigint").alias("n_ad_containers"),
        iframes.cast("bigint").alias("n_iframes"),
        scripts.cast("bigint").alias("n_ad_scripts"),
        ((containers + iframes + scripts) >= 2).cast("int")
        .alias("ad_heavy"))


# ===========================================================================
# Round-4 batch: code-file quality, math-content / Q&A / transcript
# detection, quote density, sentence segmentation moments — the content-
# type routing layer a webtext training corpus runs between extraction
# and the per-type quality filters.
# ===========================================================================

_CODEQ_TEXT = (
    ["def f(x):\n    return x + 1\n# step ", 7, "\nprint(f(2))"],
    ["# DO NOT EDIT - generated by protoc\ndef g():\n    pass\n# v", 3],
    ["short line ", 5, "\n" + "aaaa; " * 30],
    ['payload = "' + "QUJD" * 16 + '"\nrest = ', 3],
    ["This module documents the parser behavior in plain prose. ", 5],
)
_CODEQ_TEXT_SQL = _docs_sql(_CODEQ_TEXT, "text")

_CODEQ_SQL = (
    "WITH u AS (" + _CODEQ_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             CAST(list_max(list_transform(string_split(text, chr(10)),
                  l -> length(l))) AS BIGINT) AS max_line_len,
             CAST(len(list_filter(string_split(text, chr(10)),
                  l -> length(l) > 120)) AS BIGINT) AS n_long_lines,
             CAST(CASE WHEN regexp_matches(text,
                  '(?i)(do not edit|@generated|auto-generated)')
                THEN 1 ELSE 0 END AS INT) AS autogen,
             CAST(CASE WHEN regexp_matches(text, '[A-Za-z0-9+/=]{60,}')
                THEN 1 ELSE 0 END AS INT) AS has_b64_blob
      FROM u)
    SELECT doc, n_lines, max_line_len, n_long_lines, autogen, has_b64_blob,
           CAST(CASE WHEN autogen = 0 AND has_b64_blob = 0
                      AND max_line_len <= 120
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """
)


@query("code_quality", _CODEQ_SQL)
def q_code_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-file quality filter — the per-file gates The-Stack-style code
    corpora apply after license screening: max/long-line stats catch
    minified or data-dump files, 'DO NOT EDIT'/@generated markers catch
    autogenerated output (near-zero training value, massive volume), and
    60+-char base64 runs catch embedded binary blobs. All signals are
    in-row array/regex projections over the line split — zero shuffle,
    the shape that survives a 10^12-file corpus."""
    docs = _docs(spark, sf_dir, _CODEQ_TEXT, "text")
    lines = F.split("text", "\n")
    base = docs.select(
        "doc",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.array_max(F.transform(lines, lambda l: F.length(l)))
        .cast("bigint").alias("max_line_len"),
        F.size(F.filter(lines, lambda l: F.length(l) > 120))
        .cast("bigint").alias("n_long_lines"),
        F.col("text").rlike("(?i)(do not edit|@generated|auto-generated)")
        .cast("int").alias("autogen"),
        F.col("text").rlike("[A-Za-z0-9+/=]{60,}")
        .cast("int").alias("has_b64_blob"))
    return base.select(
        "doc", "n_lines", "max_line_len", "n_long_lines", "autogen",
        "has_b64_blob",
        ((F.col("autogen") == 0) & (F.col("has_b64_blob") == 0)
         & (F.col("max_line_len") <= 120)).cast("int").alias("keep"))


_MATH_TEXT = (
    ["We have $x^2 + y^2 = z^2$ and \\frac{a}{b} with \\sum_{i=1}^{n} i of "
     "order ", 5],
    ["E = m c^2 and 2 + 2 = 4 and 10 / 5 = 2 case ", 7],
    ["The cost is $5 and the budget is $10 for supplies batch ", 3],
    ["Theorem: let n be an integer. Proof: n times n is n^2. QED ", 5],
)
_MATH_TEXT_SQL = _docs_sql(_MATH_TEXT, "text")

_MATH_SQL = (
    "WITH u AS (" + _MATH_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\$[^$]*(\\^|_|\\\\)[^$]*\\$')) AS BIGINT)
               AS n_inline_math,
             CAST(len(regexp_extract_all(text,
                  '\\\\(frac|sum|int|sqrt|begin|alpha|beta)')) AS BIGINT)
               AS n_latex_cmds,
             CAST(len(regexp_extract_all(text,
                  '[0-9A-Za-z] = [0-9A-Za-z]')) AS BIGINT) AS n_equations,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(theorem|lemma|proof|corollary|equation|integer)\\b'
                  )) AS BIGINT) AS n_math_words
      FROM u)
    SELECT doc, n_inline_math, n_latex_cmds, n_equations, n_math_words,
           CAST(CASE WHEN n_inline_math + n_latex_cmds >= 1
                      OR n_equations >= 2 OR n_math_words >= 2
                THEN 1 ELSE 0 END AS INT) AS is_math
    FROM m
    """
)


@query("math_detect", _MATH_SQL)
def q_math_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-content detection — the OpenWebMath/ProofPile routing signal:
    LaTeX inline spans ($...$ that actually contain an operator, so '$5
    and $10' price prose never counts — the classic false positive),
    LaTeX commands, spaced equations, and theorem-prose keywords. Pages
    that gate here route to a math-preserving extractor instead of the
    default boilerplate strip (which destroys equations). Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _MATH_TEXT, "text")
    inline = F.size(F.regexp_extract_all(
        "text", F.lit(r"\$[^$]*(\^|_|\\)[^$]*\$"), F.lit(0)))
    cmds = F.size(F.regexp_extract_all(
        "text", F.lit(r"\\(frac|sum|int|sqrt|begin|alpha|beta)"), F.lit(0)))
    eqs = F.size(F.regexp_extract_all(
        "text", F.lit("[0-9A-Za-z] = [0-9A-Za-z]"), F.lit(0)))
    words = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(theorem|lemma|proof|corollary|equation|integer)\b"),
        F.lit(0)))
    base = docs.select(
        "doc", inline.cast("bigint").alias("n_inline_math"),
        cmds.cast("bigint").alias("n_latex_cmds"),
        eqs.cast("bigint").alias("n_equations"),
        words.cast("bigint").alias("n_math_words"))
    return base.select(
        "doc", "n_inline_math", "n_latex_cmds", "n_equations",
        "n_math_words",
        ((F.col("n_inline_math") + F.col("n_latex_cmds") >= 1)
         | (F.col("n_equations") >= 2) | (F.col("n_math_words") >= 2))
        .cast("int").alias("is_math"))


_QA_TEXT = (
    ["Q: How do I reset my password?\nA: Click the reset link.\nQ: Where is "
     "order ", 5, "?\nA: Check the tracking page."],
    ['<script type="application/ld+json">{"@type": '
     '"FAQPage"}</script><p>Help center ', 3, "</p>"],
    ["Could it be better? Perhaps. We walked home ", 3],
    ["Interviewer: What inspired you?\nGuest: The mountains.\nInterviewer: "
     "Why now?\nGuest: Because ", 3],
)
_QA_TEXT_SQL = _docs_sql(_QA_TEXT, "text")

_QA_SQL = (
    "WITH u AS (" + _QA_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text, '(?m)^Q: ')) AS BIGINT)
               AS n_q_markers,
             CAST(len(regexp_extract_all(text, '(?m)^A: ')) AS BIGINT)
               AS n_a_markers,
             CAST(len(list_filter(string_split(text, chr(10)),
                  l -> l LIKE '%?')) AS BIGINT) AS n_question_lines,
             CAST(CASE WHEN strpos(text, '"@type": "FAQPage"') > 0
                THEN 1 ELSE 0 END AS INT) AS faq_schema
      FROM u)
    SELECT doc, n_q_markers, n_a_markers, n_question_lines, faq_schema,
           CAST(LEAST(n_q_markers, n_a_markers) AS BIGINT) AS qa_pairs,
           CAST(CASE WHEN LEAST(n_q_markers, n_a_markers) >= 1
                      OR faq_schema = 1
                THEN 1 ELSE 0 END AS INT) AS is_qa
    FROM m
    """
)


@query("qa_page_detect", _QA_SQL)
def q_qa_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q&A page detection — FAQ and interview pages are the natural-
    question stratum instruction-tuning corpora mine first. Signals:
    line-anchored Q:/A: markers (paired via LEAST — an answerless
    question list isn't Q&A), schema.org FAQPage JSON-LD, and
    ?-terminated lines (exposed but not gating alone: one rhetorical
    question in prose is the false-positive control). Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _QA_TEXT, "text")
    nq = F.size(F.regexp_extract_all("text", F.lit("(?m)^Q: "), F.lit(0)))
    na = F.size(F.regexp_extract_all("text", F.lit("(?m)^A: "), F.lit(0)))
    qlines = F.size(F.filter(F.split("text", "\n"),
                             lambda l: l.endswith("?")))
    faq = F.col("text").contains('"@type": "FAQPage"').cast("int")
    base = docs.select(
        "doc", nq.cast("bigint").alias("n_q_markers"),
        na.cast("bigint").alias("n_a_markers"),
        qlines.cast("bigint").alias("n_question_lines"),
        faq.alias("faq_schema"))
    return base.select(
        "doc", "n_q_markers", "n_a_markers", "n_question_lines",
        "faq_schema",
        F.least("n_q_markers", "n_a_markers").cast("bigint")
        .alias("qa_pairs"),
        ((F.least("n_q_markers", "n_a_markers") >= 1)
         | (F.col("faq_schema") == 1)).cast("int").alias("is_qa"))


_TRANS_TEXT = (
    ["1\n00:00:01,000 --> 00:00:04,000\nHello there\n\n2\n00:00:05,000 --> "
     "00:00:08,000\nWelcome back ", 9],
    ["HOST: Welcome to the show ", 5, "\nGUEST: Thanks for having me\nHOST: "
     "Here we go"],
    ["The meeting ran from 9:30 to 11:00 and covered budgets ", 3],
    ["0:01 intro\n0:45 setup\n2:30 main topic\n5:10 conclusion ", 7],
)
_TRANS_TEXT_SQL = _docs_sql(_TRANS_TEXT, "text")

_TRANS_SQL = (
    "WITH u AS (" + _TRANS_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?\\b')) AS BIGINT)
               AS n_timestamps,
             CAST(len(regexp_extract_all(text, '-->')) AS BIGINT)
               AS n_arrows,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[A-Z][A-Za-z]*: ')) AS BIGINT) AS n_speaker_lines
      FROM u)
    SELECT doc, n_timestamps, n_arrows, n_speaker_lines,
           CAST(CASE WHEN n_arrows >= 1 OR n_timestamps >= 3
                      OR n_speaker_lines >= 2
                THEN 1 ELSE 0 END AS INT) AS is_transcript
    FROM m
    """
)


@query("transcript_detect", _TRANS_SQL)
def q_transcript_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript/subtitle detection — SRT cue arrows, dense
    HH:MM(:SS) timestamps, and line-anchored SPEAKER: labels mark
    spoken-word pages (captions, podcast transcripts, chapter lists)
    that need a different cleaning path than article prose (cue numbers
    and timestamps are boilerplate there, not content). Two clock
    mentions in prose ('ran from 9:30 to 11:00') stay below the
    3-timestamp gate — the false-positive control. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _TRANS_TEXT, "text")
    ts = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?\b"), F.lit(0)))
    arrows = F.size(F.regexp_extract_all("text", F.lit("-->"), F.lit(0)))
    speakers = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^[A-Z][A-Za-z]*: "), F.lit(0)))
    base = docs.select(
        "doc", ts.cast("bigint").alias("n_timestamps"),
        arrows.cast("bigint").alias("n_arrows"),
        speakers.cast("bigint").alias("n_speaker_lines"))
    return base.select(
        "doc", "n_timestamps", "n_arrows", "n_speaker_lines",
        ((F.col("n_arrows") >= 1) | (F.col("n_timestamps") >= 3)
         | (F.col("n_speaker_lines") >= 2)).cast("int")
        .alias("is_transcript"))


_QUOTE_TEXT = (
    ['"We expect growth this quarter," said the minister. "The plan is on '
     'track," she added. Briefing ', 5],
    ["No quoted material appears in this plain paragraph at all ", 7],
    ['He wrote "alpha" then "beta" then "gamma" on the board ', 3],
    ['The sign read "No entry beyond this point" at the gate ', 3],
)
_QUOTE_TEXT_SQL = _docs_sql(_QUOTE_TEXT, "text")

_QUOTE_SQL = (
    "WITH u AS (" + _QUOTE_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text, '"[^"]+"')) AS BIGINT)
               AS n_quotes,
             CAST(COALESCE(list_sum(list_transform(
                  regexp_extract_all(text, '"[^"]+"'),
                  s -> length(s))), 0) AS BIGINT) AS quoted_chars,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(said|says|asked|added|according to)\\b'))
                  AS BIGINT) AS n_attrib,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM u)
    SELECT doc, n_quotes, quoted_chars, n_attrib,
           CAST(quoted_chars * 10000 // GREATEST(n_chars, 1) AS BIGINT)
             AS quoted_bp,
           CAST(CASE WHEN n_quotes >= 2 AND n_attrib >= 1
                THEN 1 ELSE 0 END AS INT) AS has_dialog
    FROM m
    """
)


@query("quote_density", _QUOTE_SQL)
def q_quote_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-density scoring — attributed quotation ('...,' said X) is a
    strong journalism/reportage signal, and quoted-mass basis points
    separate dialog-heavy fiction and interviews from expository prose
    for corpus mixing. The has_dialog gate needs BOTH repeated quotes
    and an attribution verb, so a single quoted sign ('The sign read
    "..."') never counts as dialog. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _QUOTE_TEXT, "text")
    spans = F.regexp_extract_all("text", F.lit('"[^"]+"'), F.lit(0))
    base = docs.select(
        "doc",
        F.size(spans).cast("bigint").alias("n_quotes"),
        F.aggregate(spans, F.lit(0).cast("bigint"),
                    lambda a, s: a + F.length(s))
        .cast("bigint").alias("quoted_chars"),
        F.size(F.regexp_extract_all(
            "text",
            F.lit(r"(?i)\b(said|says|asked|added|according to)\b"),
            F.lit(0))).cast("bigint").alias("n_attrib"),
        F.length("text").cast("bigint").alias("n_chars"))
    return base.select(
        "doc", "n_quotes", "quoted_chars", "n_attrib",
        F.expr("quoted_chars * 10000 div GREATEST(n_chars, 1)")
        .cast("bigint").alias("quoted_bp"),
        ((F.col("n_quotes") >= 2) & (F.col("n_attrib") >= 1))
        .cast("int").alias("has_dialog"))


_SENT_TEXT = (
    ["The sky was clear. We walked to the lake ", 5, ". It was a fine day! "
     "Was it not? Indeed."],
    ["this is a run on line with no punctuation at all ", 7],
    ["Yes. No. Maybe. Stop ", 3, "."],
)
_SENT_TEXT_SQL = _docs_sql(_SENT_TEXT, "text")

_SENT_SQL = (
    "WITH u AS (" + _SENT_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text, '[^.!?]+[.!?]+'))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
               AS n_words,
             CAST(COALESCE(list_sum(list_transform(
                  regexp_extract_all(text, '[^.!?]+[.!?]+'),
                  s -> length(s))), 0) AS BIGINT) AS sent_chars,
             CAST(CASE WHEN regexp_matches(text, '[.!?]$')
                THEN 1 ELSE 0 END AS INT) AS ends_terminated
      FROM u)
    SELECT doc, n_sentences, n_words, ends_terminated,
           CAST(n_words * 100 // GREATEST(n_sentences, 1) AS BIGINT)
             AS words_per_sent_x100,
           CAST(sent_chars // GREATEST(n_sentences, 1) AS BIGINT)
             AS avg_sent_chars
    FROM m
    """
)


@query("sentence_stats", _SENT_SQL)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation moments — terminated-sentence count, words
    per sentence (x100 fixed point), average sentence chars, and the
    ends-terminated flag. These are the distributional inputs quality
    models key on: run-on unterminated text scores 0 sentences (the C4
    'terminal punctuation' rule), choppy navigation text shows tiny
    sentence lengths. Terminated spans only, so a trailing fragment
    never inflates the count. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _SENT_TEXT, "text")
    sents = F.regexp_extract_all("text", F.lit("[^.!?]+[.!?]+"), F.lit(0))
    base = docs.select(
        "doc",
        F.size(sents).cast("bigint").alias("n_sentences"),
        F.size(F.regexp_extract_all("text", F.lit("[^ ]+"), F.lit(0)))
        .cast("bigint").alias("n_words"),
        F.aggregate(sents, F.lit(0).cast("bigint"),
                    lambda a, s: a + F.length(s))
        .cast("bigint").alias("sent_chars"),
        F.col("text").rlike("[.!?]$").cast("int").alias("ends_terminated"))
    return base.select(
        "doc", "n_sentences", "n_words", "ends_terminated",
        F.expr("n_words * 100 div GREATEST(n_sentences, 1)")
        .cast("bigint").alias("words_per_sent_x100"),
        F.expr("sent_chars div GREATEST(n_sentences, 1)")
        .cast("bigint").alias("avg_sent_chars"))


_BYLINE_TEXT = (
    ["By Jane Smith\nMarkets rallied strongly today in early trading ", 5],
    ["LONDON (Reuters) - Markets rose on Tuesday session ", 3],
    ["Updated analysis of quarterly results without attribution ", 7],
    ["By Arun Patel | Staff Writer\nThe council approved the plan ", 3],
)
_BYLINE_TEXT_SQL = _docs_sql(_BYLINE_TEXT, "text")

_BYLINE_SQL = (
    "WITH u AS (" + _BYLINE_TEXT_SQL + ")"
    """
    SELECT doc,
           nullif(regexp_extract(text,
               '(?m)^By ([A-Z][a-z]+ [A-Z][a-z]+)', 1), '') AS byline,
           nullif(regexp_extract(text,
               '^([A-Z]{2,}[A-Z ]*) \\(', 1), '') AS dateline_city,
           nullif(regexp_extract(text,
               '^[A-Z]{2,}[A-Z ]* \\(([A-Za-z ]+)\\) -', 1), '') AS agency,
           CAST(CASE WHEN nullif(regexp_extract(text,
                    '(?m)^By ([A-Z][a-z]+ [A-Z][a-z]+)', 1), '')
                    IS NOT NULL
                  OR nullif(regexp_extract(text,
                    '^[A-Z]{2,}[A-Z ]* \\(([A-Za-z ]+)\\) -', 1), '')
                    IS NOT NULL
                THEN 1 ELSE 0 END AS INT) AS has_attribution
    FROM u
    """
)


@query("byline_extract", _BYLINE_SQL)
def q_byline_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """News byline / dateline extraction — 'By First Last' author lines
    and 'CITY (Agency) -' wire datelines are the provenance metadata a
    news-corpus pipeline carries per article (source weighting, per-
    author dedup of syndicated copy). Line-anchored so a mid-sentence
    'By' never extracts; missing fields are NULL, never ''. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _BYLINE_TEXT, "text")
    byline = F.nullif(F.regexp_extract(
        "text", r"(?m)^By ([A-Z][a-z]+ [A-Z][a-z]+)", 1), F.lit(""))
    city = F.nullif(F.regexp_extract(
        "text", r"^([A-Z]{2,}[A-Z ]*) \(", 1), F.lit(""))
    agency = F.nullif(F.regexp_extract(
        "text", r"^[A-Z]{2,}[A-Z ]* \(([A-Za-z ]+)\) -", 1), F.lit(""))
    return docs.select(
        "doc", byline.alias("byline"), city.alias("dateline_city"),
        agency.alias("agency"),
        (byline.isNotNull() | agency.isNotNull()).cast("int")
        .alias("has_attribution"))


_COMMSEC_TEXT = (
    ["Article body here.\n42 Comments\nLeave a Reply\nYour email address "
     "will not be published ", 3],
    ["Great post! Reply\nThanks for sharing! Reply\nposted by reader ", 5],
    ["The committee reviewed the findings in detail ", 7],
    ["Comments are closed.\nRelated posts follow ", 3],
)
_COMMSEC_TEXT_SQL = _docs_sql(_COMMSEC_TEXT, "text")

_COMMSEC_SQL = (
    "WITH u AS (" + _COMMSEC_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)([0-9]+ comments?|leave a reply|comments are '
                  || 'closed|your email address will not be published)'
                  )) AS BIGINT) AS n_comment_markers,
             CAST(len(regexp_extract_all(text, '\\bReply\\b'))
                  AS BIGINT) AS n_reply_markers
      FROM u)
    SELECT doc, n_comment_markers, n_reply_markers,
           CAST(CASE WHEN n_comment_markers >= 1 OR n_reply_markers >= 2
                THEN 1 ELSE 0 END AS INT) AS has_comment_section
    FROM m
    """
)


@query("comment_section_detect", _COMMSEC_SQL)
def q_comment_section_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-section detection — user comments trailing an article are
    a separate register (low-quality, repetitive, PII-bearing) that
    extraction should cut at the '42 Comments' / 'Leave a Reply'
    boundary. Platform chrome phrases count once each; repeated bare
    'Reply' buttons need >=2 hits so one quoted 'Reply' in prose never
    flags. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _COMMSEC_TEXT, "text")
    markers = F.size(F.regexp_extract_all(
        "text",
        F.lit("(?i)([0-9]+ comments?|leave a reply|comments are closed"
              "|your email address will not be published)"), F.lit(0)))
    replies = F.size(F.regexp_extract_all(
        "text", F.lit(r"\bReply\b"), F.lit(0)))
    base = docs.select(
        "doc", markers.cast("bigint").alias("n_comment_markers"),
        replies.cast("bigint").alias("n_reply_markers"))
    return base.select(
        "doc", "n_comment_markers", "n_reply_markers",
        ((F.col("n_comment_markers") >= 1)
         | (F.col("n_reply_markers") >= 2)).cast("int")
        .alias("has_comment_section"))


_PRODUCT_TEXT = (
    ["Only $19.99 now! Add to cart. SKU: AB-1234. In stock units ", 5],
    ['<script type="application/ld+json">{"@type": '
     '"Product"}</script>Deluxe widget ', 3],
    ["The museum charges $12.50 for adult admission on weekdays ", 7],
    ["Free shipping on orders over $50.00! Buy now and save. Checkout today ",
     3],
)
_PRODUCT_TEXT_SQL = _docs_sql(_PRODUCT_TEXT, "text")

_PRODUCT_SQL = (
    "WITH u AS (" + _PRODUCT_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\$[0-9]+\\.[0-9]{2}\\b')) AS BIGINT) AS n_prices,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(add to cart|buy now|checkout|free shipping|'
                  || 'in stock)\\b')) AS BIGINT) AS n_cart_ctas,
             CAST(CASE WHEN regexp_matches(text, 'SKU[:#]? ?[A-Z0-9-]+')
                THEN 1 ELSE 0 END AS INT) AS has_sku,
             CAST(CASE WHEN strpos(text, '"@type": "Product"') > 0
                THEN 1 ELSE 0 END AS INT) AS product_schema
      FROM u)
    SELECT doc, n_prices, n_cart_ctas, has_sku, product_schema,
           CAST(CASE WHEN (n_cart_ctas >= 1 AND n_prices >= 1)
                      OR has_sku = 1 OR product_schema = 1
                THEN 1 ELSE 0 END AS INT) AS is_product
    FROM m
    """
)


@query("product_page_detect", _PRODUCT_SQL)
def q_product_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-commerce product-page detection — catalog pages are the single
    largest template-duplicated stratum of a crawl; price patterns plus
    cart CTAs, SKU markers, or schema.org Product JSON-LD route them out
    of the prose corpus (or into a product-catalog corpus). A lone price
    in prose ('museum charges $12.50') never gates — CTAs must
    co-occur. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _PRODUCT_TEXT, "text")
    prices = F.size(F.regexp_extract_all(
        "text", F.lit(r"\$[0-9]+\.[0-9]{2}\b"), F.lit(0)))
    ctas = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(add to cart|buy now|checkout|free shipping"
              r"|in stock)\b"), F.lit(0)))
    sku = F.col("text").rlike("SKU[:#]? ?[A-Z0-9-]+").cast("int")
    schema = F.col("text").contains('"@type": "Product"').cast("int")
    base = docs.select(
        "doc", prices.cast("bigint").alias("n_prices"),
        ctas.cast("bigint").alias("n_cart_ctas"),
        sku.alias("has_sku"), schema.alias("product_schema"))
    return base.select(
        "doc", "n_prices", "n_cart_ctas", "has_sku", "product_schema",
        (((F.col("n_cart_ctas") >= 1) & (F.col("n_prices") >= 1))
         | (F.col("has_sku") == 1) | (F.col("product_schema") == 1))
        .cast("int").alias("is_product"))


_PLACEHOLDER_TEXT = (
    ["Lorem ipsum dolor sit amet, consectetur adipiscing elit ", 5],
    ["This is a sample page. Replace this text with your content. Under "
     "construction ", 3],
    ["The harvest festival drew record crowds this year ", 7],
    ["Example Domain. This domain is for use in illustrative examples in "
     "documents ", 3],
)
_PLACEHOLDER_TEXT_SQL = _docs_sql(_PLACEHOLDER_TEXT, "text")

_PLACEHOLDER_SQL = (
    "WITH u AS (" + _PLACEHOLDER_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)(lorem ipsum|dolor sit amet|consectetur)'))
                  AS BIGINT) AS lorem_hits,
             CAST(len(regexp_extract_all(text,
                  '(?i)(under construction|replace this text|sample '
                  || 'page|coming soon|example domain|illustrative '
                  || 'examples)')) AS BIGINT) AS placeholder_hits
      FROM u)
    SELECT doc, lorem_hits, placeholder_hits,
           CAST(CASE WHEN lorem_hits >= 1 OR placeholder_hits >= 2
                THEN 1 ELSE 0 END AS INT) AS is_placeholder
    FROM m
    """
)


@query("placeholder_detect", _PLACEHOLDER_SQL)
def q_placeholder_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placeholder-page detection — lorem-ipsum filler, 'under
    construction' stubs, and the example.com boilerplate are pure noise
    that survives every quality heuristic based on length or
    punctuation (they are well-formed prose). One lorem marker
    suffices; generic phrases need two so a single 'coming soon' in a
    real article never gates. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _PLACEHOLDER_TEXT, "text")
    lorem = F.size(F.regexp_extract_all(
        "text", F.lit("(?i)(lorem ipsum|dolor sit amet|consectetur)"),
        F.lit(0)))
    ph = F.size(F.regexp_extract_all(
        "text",
        F.lit("(?i)(under construction|replace this text|sample page"
              "|coming soon|example domain|illustrative examples)"),
        F.lit(0)))
    base = docs.select(
        "doc", lorem.cast("bigint").alias("lorem_hits"),
        ph.cast("bigint").alias("placeholder_hits"))
    return base.select(
        "doc", "lorem_hits", "placeholder_hits",
        ((F.col("lorem_hits") >= 1) | (F.col("placeholder_hits") >= 2))
        .cast("int").alias("is_placeholder"))


_STUFF_TEXT = (
    ["cheap flights cheap flights cheap flights book cheap flights today ", 3],
    ["the quick brown fox jumps over one lazy dog near the river ", 5],
    ["widget sale widget deals widget prices best widget offers ", 7],
)
_STUFF_TEXT_SQL = _docs_sql(_STUFF_TEXT, "text")

_STUFF_SQL = (
    "WITH u AS (" + _STUFF_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(list_max(list_transform(
                  list_distinct(string_split(text, ' ')),
                  d -> len(list_filter(string_split(text, ' '),
                           w -> w = d)))) AS BIGINT) AS top_word_count
      FROM u)
    SELECT doc, n_words, top_word_count,
           CAST(top_word_count * 10000 // GREATEST(n_words, 1) AS BIGINT)
             AS top_word_share_bp,
           CAST(CASE WHEN top_word_count * 10000 // GREATEST(n_words, 1)
                       >= 2500 AND n_words >= 8
                THEN 1 ELSE 0 END AS INT) AS stuffed
    FROM m
    """
)


@query("keyword_stuffing", _STUFF_SQL)
def q_keyword_stuffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-stuffing detection — SEO spam repeats its target phrase
    until it dominates the token stream; the top-word share in basis
    points is the gate (>=25% of >=8 words). Computed entirely in-row
    with nested array lambdas (distinct -> per-candidate count -> max),
    so no tokenize-explode shuffle: at corpus scale this is a projection,
    and the O(words x distinct) in-row cost is bounded by the doc-length
    cap upstream. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _STUFF_TEXT, "text")
    ws = F.split("text", " ")
    base = docs.select(
        "doc",
        F.size(ws).cast("bigint").alias("n_words"),
        F.array_max(F.transform(
            F.array_distinct(ws),
            lambda d: F.size(F.filter(ws, lambda w: w == d))))
        .cast("bigint").alias("top_word_count"))
    return base.select(
        "doc", "n_words", "top_word_count",
        F.expr("top_word_count * 10000 div GREATEST(n_words, 1)")
        .cast("bigint").alias("top_word_share_bp"),
        ((F.expr("top_word_count * 10000 div GREATEST(n_words, 1)")
          >= 2500) & (F.col("n_words") >= 8)).cast("int")
        .alias("stuffed"))


_DUMP_TEXT = (
    ["2024-01-15 12:00:01 INFO request from 10.0.0.1 took 23ms\n2024-01-15 "
     "12:00:02 INFO request from 192.168.1.100 took 41ms case ", 5],
    ["row 550e8400-e29b-41d4-a716-446655440000 and "
     "6ba7b810-9dad-11d1-80b4-00c04fd430c8 and hash deadbeefcafe1234 ", 3],
    ["A calm essay about morning walks in the park ", 7],
    ["id,value\n10,2031\n22,4172\n31,8839\n44,1207 case ", 3],
)
_DUMP_TEXT_SQL = _docs_sql(_DUMP_TEXT, "text")

_DUMP_SQL = (
    "WITH u AS (" + _DUMP_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-'
                  || '[0-9a-f]{12}\\b')) AS BIGINT) AS n_uuids,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9a-f]{12,}\\b')) AS BIGINT) AS n_hex_runs,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'
                  || '\\b')) AS BIGINT) AS n_ips,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]{4}-[0-9]{2}-[0-9]{2} '
                  || '[0-9]{2}:[0-9]{2}:[0-9]{2}\\b')) AS BIGINT)
               AS n_iso_ts,
             CAST((length(text) - length(regexp_replace(text, '[0-9]',
                  '', 'g'))) * 10000 // GREATEST(length(text), 1)
                  AS BIGINT) AS digit_ratio_bp
      FROM u)
    SELECT doc, n_uuids, n_hex_runs, n_ips, n_iso_ts, digit_ratio_bp,
           CAST(CASE WHEN n_uuids + n_hex_runs >= 2 OR n_ips >= 2
                      OR n_iso_ts >= 2 OR digit_ratio_bp >= 3000
                THEN 1 ELSE 0 END AS INT) AS is_dump
    FROM m
    """
)


@query("data_dump_detect", _DUMP_SQL)
def q_data_dump_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-generated data-dump detection — server logs, CSV exports,
    and id tables leak into crawls by the billions of pages and poison
    LM training (models memorize UUIDs and IPs). Signals: UUIDs, long
    hex runs (a UUID's 12-char tail also counts — overlapping signals
    feeding one gate), dotted IPs, ISO log timestamps, and overall
    digit-mass basis points; any two structured ids or a 30%+ digit
    ratio gates. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _DUMP_TEXT, "text")
    uuids = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
              r"-[0-9a-f]{12}\b"), F.lit(0)))
    hexr = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9a-f]{12,}\b"), F.lit(0)))
    ips = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
        F.lit(0)))
    ts = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"\b[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\b"),
        F.lit(0)))
    digits = F.length("text") - F.length(
        F.regexp_replace("text", "[0-9]", ""))
    raw = docs.select(
        "doc", uuids.cast("bigint").alias("n_uuids"),
        hexr.cast("bigint").alias("n_hex_runs"),
        ips.cast("bigint").alias("n_ips"),
        ts.cast("bigint").alias("n_iso_ts"),
        digits.cast("bigint").alias("n_digits"),
        F.length("text").cast("bigint").alias("n_chars"))
    base = raw.select(
        "doc", "n_uuids", "n_hex_runs", "n_ips", "n_iso_ts",
        F.expr("n_digits * 10000 div GREATEST(n_chars, 1)")
        .cast("bigint").alias("digit_ratio_bp"))
    return base.select(
        "doc", "n_uuids", "n_hex_runs", "n_ips", "n_iso_ts",
        "digit_ratio_bp",
        ((F.col("n_uuids") + F.col("n_hex_runs") >= 2)
         | (F.col("n_ips") >= 2) | (F.col("n_iso_ts") >= 2)
         | (F.col("digit_ratio_bp") >= 3000)).cast("int")
        .alias("is_dump"))


_RECIPE_TEXT = (
    ['<script type="application/ld+json">{"@type": "Recipe"}</script>Best '
     "pancakes ", 3],
    ["Ingredients:\n2 cups flour\n1 tsp salt\n3 tbsp butter\nInstructions:\n"
     "1. Mix the dry items.\n2. Add butter ", 5],
    ["The bakery on Main Street expanded its seating area ", 7],
    ["Preheat the oven to 350 degrees. Combine 2 cups sugar with 1 cup "
     "cocoa. Bake for 30 minutes batch ", 3],
)
_RECIPE_TEXT_SQL = _docs_sql(_RECIPE_TEXT, "text")

_RECIPE_SQL = (
    "WITH u AS (" + _RECIPE_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN strpos(text, '"@type": "Recipe"') > 0
                THEN 1 ELSE 0 END AS INT) AS recipe_schema,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[0-9]+(/[0-9]+)? (cups?|tsp|tbsp|grams?|oz|ml) '
                  )) AS BIGINT) AS n_quantity_lines,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]+ (cups?|tsp|tbsp|grams?|oz|ml)\\b'))
                  AS BIGINT) AS n_inline_qty,
             CAST(len(regexp_extract_all(text, '(?m)^[0-9]+\\. '))
                  AS BIGINT) AS n_step_lines,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(preheat|bake|simmer|whisk|knead|saute|'
                  || 'marinate)\\b')) AS BIGINT) AS n_cook_verbs
      FROM u)
    SELECT doc, recipe_schema, n_quantity_lines, n_inline_qty,
           n_step_lines, n_cook_verbs,
           CAST(CASE WHEN recipe_schema = 1 OR n_quantity_lines >= 2
                      OR (n_cook_verbs >= 2 AND n_inline_qty >= 1)
                THEN 1 ELSE 0 END AS INT) AS is_recipe
    FROM m
    """
)


@query("recipe_detect", _RECIPE_SQL)
def q_recipe_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe-page detection — schema.org Recipe JSON-LD, line-anchored
    ingredient quantities ('2 cups flour'), numbered steps, and cooking
    verbs. Recipe sites are heavily templated and syndicated, so this
    routes them to a structured extractor (ingredients/steps) instead of
    prose cleaning; a bakery news story never gates. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _RECIPE_TEXT, "text")
    schema = F.col("text").contains('"@type": "Recipe"').cast("int")
    qty_lines = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^[0-9]+(/[0-9]+)? (cups?|tsp|tbsp|grams?"
                      "|oz|ml) "), F.lit(0)))
    inline_qty = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]+ (cups?|tsp|tbsp|grams?|oz|ml)\b"),
        F.lit(0)))
    steps = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?m)^[0-9]+\. "), F.lit(0)))
    verbs = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(preheat|bake|simmer|whisk|knead|saute|marinate)\b"),
        F.lit(0)))
    base = docs.select(
        "doc", schema.alias("recipe_schema"),
        qty_lines.cast("bigint").alias("n_quantity_lines"),
        inline_qty.cast("bigint").alias("n_inline_qty"),
        steps.cast("bigint").alias("n_step_lines"),
        verbs.cast("bigint").alias("n_cook_verbs"))
    return base.select(
        "doc", "recipe_schema", "n_quantity_lines", "n_inline_qty",
        "n_step_lines", "n_cook_verbs",
        ((F.col("recipe_schema") == 1) | (F.col("n_quantity_lines") >= 2)
         | ((F.col("n_cook_verbs") >= 2) & (F.col("n_inline_qty") >= 1)))
        .cast("int").alias("is_recipe"))


_HOWTO_TEXT = (
    ['<script type="application/ld+json">{"@type": "HowTo"}</script>Fix a '
     "flat tire ", 3],
    ["Step 1: Unplug the router.\nStep 2: Wait ten seconds.\nStep 3: Plug "
     "it back in ", 5],
    ["1. Open the settings menu.\n2. Select privacy.\n3. Toggle the "
     "switch.\n4. Restart the app ", 3],
    ["The committee discussed several approaches at length ", 7],
)
_HOWTO_TEXT_SQL = _docs_sql(_HOWTO_TEXT, "text")

_HOWTO_SQL = (
    "WITH u AS (" + _HOWTO_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN strpos(text, '"@type": "HowTo"') > 0
                THEN 1 ELSE 0 END AS INT) AS howto_schema,
             CAST(len(regexp_extract_all(text,
                  '(?m)^Step [0-9]+[:.]')) AS BIGINT) AS n_step_markers,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[0-9]+\\. [A-Z]')) AS BIGINT) AS n_numbered_steps
      FROM u)
    SELECT doc, howto_schema, n_step_markers, n_numbered_steps,
           CAST(CASE WHEN howto_schema = 1 OR n_step_markers >= 2
                      OR n_numbered_steps >= 3
                THEN 1 ELSE 0 END AS INT) AS is_howto
    FROM m
    """
)


@query("howto_detect", _HOWTO_SQL)
def q_howto_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How-to / procedural-content detection — 'Step N:' markers,
    capitalized numbered-step lines, and HowTo JSON-LD mark stepwise
    instructional pages, the highest-value stratum for instruction-
    following data. Thresholds (2 step markers / 3 numbered steps) keep
    a single enumerated aside in prose from gating. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _HOWTO_TEXT, "text")
    schema = F.col("text").contains('"@type": "HowTo"').cast("int")
    markers = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^Step [0-9]+[:.]"), F.lit(0)))
    numbered = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?m)^[0-9]+\. [A-Z]"), F.lit(0)))
    base = docs.select(
        "doc", schema.alias("howto_schema"),
        markers.cast("bigint").alias("n_step_markers"),
        numbered.cast("bigint").alias("n_numbered_steps"))
    return base.select(
        "doc", "howto_schema", "n_step_markers", "n_numbered_steps",
        ((F.col("howto_schema") == 1) | (F.col("n_step_markers") >= 2)
         | (F.col("n_numbered_steps") >= 3)).cast("int")
        .alias("is_howto"))


_REVIEW_TEXT = (
    ["Rated 4.5 out of 5 stars by 230 buyers. Pros: light, fast. Cons: "
     "pricey. Verified Purchase ", 3],
    ["★★★★☆ Great value for the money. Would buy again ", 5],
    ['<script type="application/ld+json">{"@type": "Review"}</script>Editor '
     "opinion ", 3],
    ["The committee rated the proposal favorably in its report ", 7],
)
_REVIEW_TEXT_SQL = _docs_sql(_REVIEW_TEXT, "text")

_REVIEW_SQL = (
    "WITH u AS (" + _REVIEW_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b[0-9](\\.[0-9])? out of [0-9] stars?\\b'))
                  AS BIGINT) AS n_rating_phrases,
             CAST(len(regexp_extract_all(text, '★{2,}')) AS BIGINT)
               AS n_star_runs,
             CAST(CASE WHEN strpos(text, '"@type": "Review"') > 0
                THEN 1 ELSE 0 END AS INT) AS review_schema,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(verified purchase|pros:|cons:|'
                  || 'would buy again)')) AS BIGINT) AS n_review_markers
      FROM u)
    SELECT doc, n_rating_phrases, n_star_runs, review_schema,
           n_review_markers,
           CAST(CASE WHEN n_rating_phrases >= 1 OR n_star_runs >= 1
                      OR review_schema = 1 OR n_review_markers >= 2
                THEN 1 ELSE 0 END AS INT) AS is_review
    FROM m
    """
)


@query("review_page_detect", _REVIEW_SQL)
def q_review_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Review-page detection — 'N out of 5 stars' phrases, star-glyph
    runs, Review JSON-LD, and platform markers (Verified Purchase,
    Pros:/Cons:) route opinion/review content for sentiment corpora and
    dedup of syndicated product reviews. 'The committee rated the
    proposal' has the verb but no rating shape — the false-positive
    control. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _REVIEW_TEXT, "text")
    ratings = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?i)\b[0-9](\.[0-9])? out of [0-9] stars?\b"),
        F.lit(0)))
    stars = F.size(F.regexp_extract_all("text", F.lit("★{2,}"), F.lit(0)))
    schema = F.col("text").contains('"@type": "Review"').cast("int")
    markers = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(verified purchase|pros:|cons:|would buy again)"),
        F.lit(0)))
    base = docs.select(
        "doc", ratings.cast("bigint").alias("n_rating_phrases"),
        stars.cast("bigint").alias("n_star_runs"),
        schema.alias("review_schema"),
        markers.cast("bigint").alias("n_review_markers"))
    return base.select(
        "doc", "n_rating_phrases", "n_star_runs", "review_schema",
        "n_review_markers",
        ((F.col("n_rating_phrases") >= 1) | (F.col("n_star_runs") >= 1)
         | (F.col("review_schema") == 1)
         | (F.col("n_review_markers") >= 2)).cast("int")
        .alias("is_review"))


_LEGAL_TEXT = (
    ["Terms of Service\n1.1 The Company shall provide the service. 1.2 The "
     "User shall not resell access. Liability is limited ", 3],
    ["Privacy Policy\nWe collect the following categories of personal data. "
     "You may opt out at any time ", 5],
    ["This Agreement, hereinafter the Contract, shall be governed by the "
     "laws of the State. The parties hereto agree ", 3],
    ["The hiking club met at dawn for the ridge traverse ", 7],
)
_LEGAL_TEXT_SQL = _docs_sql(_LEGAL_TEXT, "text")

_LEGAL_SQL = (
    "WITH u AS (" + _LEGAL_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(terms of service|privacy policy|end user '
                  || 'license|acceptable use policy)\\b')) AS BIGINT)
               AS n_legal_titles,
             CAST(len(regexp_extract_all(text, '\\bshall\\b'))
                  AS BIGINT) AS n_shall,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(hereinafter|hereto|herein|thereof|whereas|'
                  || 'indemnif(y|ication))\\b')) AS BIGINT) AS n_legalese,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]+\\.[0-9]+ [A-Z]')) AS BIGINT)
               AS n_section_nums
      FROM u)
    SELECT doc, n_legal_titles, n_shall, n_legalese, n_section_nums,
           CAST(CASE WHEN n_legal_titles >= 1 OR n_legalese >= 2
                      OR (n_shall >= 2 AND n_section_nums >= 1)
                THEN 1 ELSE 0 END AS INT) AS is_legal
    FROM m
    """
)


@query("legal_doc_detect", _LEGAL_SQL)
def q_legal_doc_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legal-boilerplate detection — ToS/privacy-policy pages are among
    the most duplicated documents on the web (every site carries a
    near-identical copy), so corpus pipelines detect and collapse them
    before dedup wastes candidate budget. Signals: canonical titles,
    'shall' density with numbered sections, and legalese vocabulary.
    Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _LEGAL_TEXT, "text")
    titles = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(terms of service|privacy policy|end user license"
              r"|acceptable use policy)\b"), F.lit(0)))
    shall = F.size(F.regexp_extract_all(
        "text", F.lit(r"\bshall\b"), F.lit(0)))
    legalese = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(hereinafter|hereto|herein|thereof|whereas"
              r"|indemnif(y|ication))\b"), F.lit(0)))
    sections = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]+\.[0-9]+ [A-Z]"), F.lit(0)))
    base = docs.select(
        "doc", titles.cast("bigint").alias("n_legal_titles"),
        shall.cast("bigint").alias("n_shall"),
        legalese.cast("bigint").alias("n_legalese"),
        sections.cast("bigint").alias("n_section_nums"))
    return base.select(
        "doc", "n_legal_titles", "n_shall", "n_legalese",
        "n_section_nums",
        ((F.col("n_legal_titles") >= 1) | (F.col("n_legalese") >= 2)
         | ((F.col("n_shall") >= 2) & (F.col("n_section_nums") >= 1)))
        .cast("int").alias("is_legal"))


_DIRLIST_TEXT = (
    ["Index of /pub/files\nName Last modified Size\nreport.pdf 2024-01-05 "
     "10:22 1.2M\ndata.csv 2024-01-06 11:03 480K\nParent Directory batch ", 3],
    ["drwxr-xr-x 2 root root 4096 Jan 5 10:22 logs\n-rw-r--r-- 1 root root "
     "1048576 Jan 6 11:03 dump.bin case ", 5],
    ["The archive of letters was donated to the library ", 7],
    ["README.txt 2024-02-01 09:15 2K\nCHANGELOG.md 2024-02-02 14:40 11K\n"
     "setup.sh 2024-02-03 16:05 1K list ", 3],
)
_DIRLIST_TEXT_SQL = _docs_sql(_DIRLIST_TEXT, "text")

_DIRLIST_SQL = (
    "WITH u AS (" + _DIRLIST_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN regexp_matches(text, '(?m)^Index of /')
                THEN 1 ELSE 0 END AS INT) AS has_index_header,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[A-Za-z0-9_.-]+\\.[a-z]{1,4} [0-9]{4}-[0-9]{2}-'
                  || '[0-9]{2} [0-9]{2}:[0-9]{2} [0-9.]+[KMG]?'))
                  AS BIGINT) AS n_file_rows,
             CAST(len(regexp_extract_all(text, '(?m)^[d-][rwx-]{9} '))
                  AS BIGINT) AS n_perm_strings
      FROM u)
    SELECT doc, has_index_header, n_file_rows, n_perm_strings,
           CAST(CASE WHEN has_index_header = 1 OR n_file_rows >= 2
                      OR n_perm_strings >= 2
                THEN 1 ELSE 0 END AS INT) AS is_listing
    FROM m
    """
)


@query("directory_listing_detect", _DIRLIST_SQL)
def q_directory_listing_detect(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Auto-index directory-listing detection — Apache/nginx 'Index of'
    pages and ls -l dumps are pure crawl noise that inflates host page
    counts and poisons dedup shingles with filename tables. Signals:
    the Index-of header, filename + date + size rows, and unix
    permission strings. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _DIRLIST_TEXT, "text")
    header = F.col("text").rlike("(?m)^Index of /").cast("int")
    frows = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?m)^[A-Za-z0-9_.-]+\.[a-z]{1,4} [0-9]{4}-[0-9]{2}"
              r"-[0-9]{2} [0-9]{2}:[0-9]{2} [0-9.]+[KMG]?"), F.lit(0)))
    perms = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^[d-][rwx-]{9} "), F.lit(0)))
    base = docs.select(
        "doc", header.alias("has_index_header"),
        frows.cast("bigint").alias("n_file_rows"),
        perms.cast("bigint").alias("n_perm_strings"))
    return base.select(
        "doc", "has_index_header", "n_file_rows", "n_perm_strings",
        ((F.col("has_index_header") == 1) | (F.col("n_file_rows") >= 2)
         | (F.col("n_perm_strings") >= 2)).cast("int")
        .alias("is_listing"))


_FORUM_TEXT = (
    ["Posted by alice on 2024-01-05\nHas anyone tried the new firmware?\n"
     "Posted by bob on 2024-01-05\nYes, works fine for me.\nPosted by alice "
     "on 2024-01-06\nThanks! batch ", 3],
    ["Posted by solo_user on 2024-03-01\nFirst! case ", 5],
    ["The observatory posted new images of the nebula ", 7],
    ["Re: Upgrade question\nPosted by carol on 2024-02-02\nQuoting earlier: "
     "it depends.\nPosted by dave on 2024-02-03\nAgreed entirely ", 3],
)
_FORUM_TEXT_SQL = _docs_sql(_FORUM_TEXT, "text")

_FORUM_SQL = (
    "WITH u AS (" + _FORUM_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?m)^Posted by [a-z_]+ on [0-9]{4}-[0-9]{2}-[0-9]{2}'
                  )) AS BIGINT) AS n_posts,
             CAST(len(list_distinct(regexp_extract_all(text,
                  '(?m)^Posted by ([a-z_]+) on [0-9]{4}-[0-9]{2}-'
                  || '[0-9]{2}', 1))) AS BIGINT) AS n_authors,
             CAST(CASE WHEN regexp_matches(text, '(?m)^Re: ')
                THEN 1 ELSE 0 END AS INT) AS has_re_subject
      FROM u)
    SELECT doc, n_posts, n_authors, has_re_subject,
           CAST(CASE WHEN n_posts >= 2 THEN 1 ELSE 0 END AS INT)
             AS is_thread
    FROM m
    """
)


@query("forum_thread_parse", _FORUM_SQL)
def q_forum_thread_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forum-thread structure parsing — post boundaries ('Posted by X on
    DATE'), distinct author count (via group extraction, in-row
    distinct), and Re: subject markers. Threads with >=2 posts are the
    conversational stratum dialogue corpora mine; a single-post page is
    not a thread, and 'The observatory posted ...' prose never counts
    (line-anchored marker). Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _FORUM_TEXT, "text")
    post_pat = "(?m)^Posted by ([a-z_]+) on [0-9]{4}-[0-9]{2}-[0-9]{2}"
    posts = F.size(F.regexp_extract_all("text", F.lit(post_pat), F.lit(0)))
    authors = F.size(F.array_distinct(
        F.regexp_extract_all("text", F.lit(post_pat), F.lit(1))))
    re_subj = F.col("text").rlike("(?m)^Re: ").cast("int")
    base = docs.select(
        "doc", posts.cast("bigint").alias("n_posts"),
        authors.cast("bigint").alias("n_authors"),
        re_subj.alias("has_re_subject"))
    return base.select(
        "doc", "n_posts", "n_authors", "has_re_subject",
        (F.col("n_posts") >= 2).cast("int").alias("is_thread"))


_JSONL_TEXT = (
    ['{"title": "Post ', 5, '", "views": ', 100, ', "tags": ["a", "b"]}'],
    ['{"title": "Broken'],
    ['{"views": 7}'],
    ['{"title": "X", "views": "many"}'],
)
_JSONL_TEXT_SQL = _docs_sql(_JSONL_TEXT, "raw")

_JSONL_SQL = (
    "WITH u AS (" + _JSONL_TEXT_SQL + ")"
    """
    SELECT doc,
           CASE WHEN json_valid(raw)
                THEN json_extract_string(raw, '$.title') END AS title,
           CAST(CASE WHEN json_valid(raw)
                      AND json_type(raw, '$.views')
                          IN ('UBIGINT', 'BIGINT')
                THEN json_extract_string(raw, '$.views') END AS BIGINT)
             AS views,
           CAST(CASE WHEN json_valid(raw)
                THEN json_array_length(raw, '$.tags') END AS BIGINT)
             AS n_tags,
           CAST(CASE WHEN NOT json_valid(raw) THEN 1
                     WHEN json_type(raw, '$.views') IS NOT NULL
                      AND json_type(raw, '$.views')
                          NOT IN ('UBIGINT', 'BIGINT')
                     THEN 1 ELSE 0 END AS INT) AS is_corrupt
    FROM u
    """
)


@query("jsonl_ingest", _JSONL_SQL)
def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-record routing — the schema-on-read
    front door for API dumps and event exports. Spark's PERMISSIVE
    ``from_json`` with ``columnNameOfCorruptRecord`` extracts every
    coercible field AND flags the record when the JSON is malformed or
    a field fails coercion ('views': "many" keeps title='X' but routes
    to the corrupt lane for re-ingest — never silently dropped, never
    a failed job). Missing fields are NULL without flagging. The oracle
    twin reproduces the exact PERMISSIVE semantics via json_valid +
    json_type. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _JSONL_TEXT, "raw")
    parsed = F.from_json(
        "raw",
        "title string, views bigint, tags array<string>, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"})
    return docs.select("doc", parsed.alias("p")).select(
        "doc",
        F.col("p.title").alias("title"),
        F.col("p.views").alias("views"),
        F.size("p.tags").cast("bigint").alias("n_tags"),
        F.col("p._corrupt").isNotNull().cast("int").alias("is_corrupt"))


@query(
    "ewma_anomaly",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    s AS (
      SELECT event_type, list(cnt ORDER BY day) AS l
      FROM daily GROUP BY event_type),
    f AS (
      SELECT event_type,
             CAST(len(l) AS BIGINT) AS n_days,
             CAST(l[len(l)] AS BIGINT) AS last_count,
             CAST(list_reduce(l[1:len(l)-1],
                  (a, x) -> (3 * a + x) // 4) AS BIGINT)
               AS baseline_ewma
      FROM s WHERE len(l) >= 2)
    SELECT event_type, n_days, last_count, baseline_ewma,
           CAST(abs(last_count - baseline_ewma) * 10000
                // GREATEST(baseline_ewma, 1) AS BIGINT) AS anomaly_bp,
           CAST(CASE WHEN abs(last_count - baseline_ewma) * 10000
                       // GREATEST(baseline_ewma, 1) >= 5000
                THEN 1 ELSE 0 END AS INT) AS is_anomalous
    FROM f
    """,
)
def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA last-day anomaly per event type — the classic ops-monitoring
    fold: exponentially-weighted moving average (alpha = 1/4, exact
    integer arithmetic: acc = (3*acc + x) div 4, floor at every step so
    both engines agree bit-for-bit) over the daily-count series
    EXCLUDING the last day, then the last day's deviation in basis
    points against that baseline. The per-series fold runs in-row over
    a collected array — correct because a daily series is tiny (one
    element per day) even when the underlying events are 10^12; the
    heavy lifting is the (event_type, day) partial-aggregated count,
    one shuffle keyed by a low-cardinality composite."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cnt"))),
            lambda s: s["cnt"]).alias("l"))
    series = series.filter(F.size("l") >= 2)
    baseline = F.aggregate(
        F.slice("l", F.lit(2), F.size("l") - 2),
        F.element_at("l", 1).cast("bigint"),
        lambda a, x: F.floor((a * 3 + x) / 4).cast("bigint"))
    base = series.select(
        "event_type",
        F.size("l").cast("bigint").alias("n_days"),
        F.element_at("l", -1).cast("bigint").alias("last_count"),
        baseline.cast("bigint").alias("baseline_ewma"))
    return base.select(
        "event_type", "n_days", "last_count", "baseline_ewma",
        F.expr("abs(last_count - baseline_ewma) * 10000"
               " div GREATEST(baseline_ewma, 1)")
        .cast("bigint").alias("anomaly_bp"),
        (F.expr("abs(last_count - baseline_ewma) * 10000"
                " div GREATEST(baseline_ewma, 1)") >= 5000)
        .cast("int").alias("is_anomalous"))


_BENFORD_EXP = [(1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
                (6, 669), (7, 580), (8, 512), (9, 458)]


@query(
    "benford_audit",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
    exp AS (
      SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969),
                            (5, 792), (6, 669), (7, 580), (8, 512),
                            (9, 458)) AS t(digit, exp_bp))
    SELECT counts.digit, counts.n,
           CAST(counts.n * 10000 // tot.total AS BIGINT) AS obs_bp,
           CAST(exp.exp_bp AS BIGINT) AS exp_bp,
           CAST((counts.n * 10000 // tot.total - exp.exp_bp)
                * (counts.n * 10000 // tot.total - exp.exp_bp)
                // exp.exp_bp AS BIGINT) AS chi2_contrib
    FROM counts CROSS JOIN tot JOIN exp ON counts.digit = exp.digit
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the standard
    synthetic-data / fraud screen: naturally-occurring amounts follow
    log10(1+1/d) first-digit frequencies, and fabricated or
    machine-generated numbers don't. Per-digit observed share in exact
    basis points against the fixed expected table (which sums to
    exactly 10000 bp), with an integer chi-square contribution per
    digit. One 9-group aggregate + a 1-row broadcast total — the
    scalar-denominator pattern; expected digits are a 9-row broadcast
    dim."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    counts = (
        orders.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(F.substring(F.col("cents").cast("string"), 1, 1)
                .cast("int").alias("digit"))
        .groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = counts.agg(F.sum("n").cast("bigint").alias("total"))
    exp = spark.createDataFrame(_BENFORD_EXP, ["digit", "exp_bp"])
    joined = (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(exp), "digit"))
    return joined.select(
        "digit", "n",
        F.expr("n * 10000 div total").cast("bigint").alias("obs_bp"),
        F.col("exp_bp").cast("bigint").alias("exp_bp"),
        F.expr("(n * 10000 div total - exp_bp)"
               " * (n * 10000 div total - exp_bp) div exp_bp")
        .cast("bigint").alias("chi2_contrib"))


_FORM_TEXT = (
    ['<form action="/login" method="post"><input type="text" '
     'name="user"><input type="password" name="pw"></form> page ', 3],
    ['<form action="/search"><input type="search" name="q"></form> results ',
     5],
    ["An article about coastal erosion and dunes ", 7],
    ['<form action="/subscribe"><input type="email" name="e"></form><form '
     'action="/vote"><input type="radio"></form> footer ', 3],
)
_FORM_TEXT_SQL = _docs_sql(_FORM_TEXT, "html")

_FORM_SQL = (
    "WITH u AS (" + _FORM_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(html, '<form')) AS BIGINT)
               AS n_forms,
             CAST(len(regexp_extract_all(html, '<input')) AS BIGINT)
               AS n_inputs,
             CAST(CASE WHEN strpos(html, 'type="password"') > 0
                THEN 1 ELSE 0 END AS INT) AS has_password,
             CAST(CASE WHEN strpos(html, 'type="search"') > 0
                THEN 1 ELSE 0 END AS INT) AS has_search,
             CAST(CASE WHEN strpos(html, 'type="email"') > 0
                THEN 1 ELSE 0 END AS INT) AS has_email
      FROM u)
    SELECT doc, n_forms, n_inputs, has_password, has_search, has_email,
           CASE WHEN has_password = 1 THEN 'login'
                WHEN has_search = 1 THEN 'search'
                WHEN has_email = 1 THEN 'subscribe'
                WHEN n_forms > 0 THEN 'other' END AS form_type,
           CAST(CASE WHEN n_forms >= 1 THEN 1 ELSE 0 END AS INT)
             AS is_form_page
    FROM m
    """
)


@query("html_form_detect", _FORM_SQL)
def q_html_form_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML form detection and typing — login walls, search results, and
    subscribe pages are interaction chrome, not content; a crawl
    pipeline tags them (login pages especially: near-zero text, massive
    template duplication) before quality scoring wastes signal on them.
    Priority typing: password > search > email > other. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _FORM_TEXT, "html")
    base = docs.select(
        "doc",
        F.size(F.regexp_extract_all("html", F.lit("<form"), F.lit(0)))
        .cast("bigint").alias("n_forms"),
        F.size(F.regexp_extract_all("html", F.lit("<input"), F.lit(0)))
        .cast("bigint").alias("n_inputs"),
        F.col("html").contains('type="password"').cast("int")
        .alias("has_password"),
        F.col("html").contains('type="search"').cast("int")
        .alias("has_search"),
        F.col("html").contains('type="email"').cast("int")
        .alias("has_email"))
    return base.select(
        "doc", "n_forms", "n_inputs", "has_password", "has_search",
        "has_email",
        F.when(F.col("has_password") == 1, F.lit("login"))
        .when(F.col("has_search") == 1, F.lit("search"))
        .when(F.col("has_email") == 1, F.lit("subscribe"))
        .when(F.col("n_forms") > 0, F.lit("other"))
        .alias("form_type"),
        (F.col("n_forms") >= 1).cast("int").alias("is_form_page"))


@query(
    "waterfill_budget",
    """
    WITH hosts AS (
      SELECT 'h' || CAST(doc_id % 17 AS VARCHAR) AS host,
             CAST(3 * COUNT(*) AS BIGINT) AS cap,
             CAST(SUM(n_chars) AS BIGINT) AS w
      FROM documents GROUP BY doc_id % 17),
    tot AS (
      SELECT CAST(SUM(cap) * 6 // 10 AS BIGINT) AS budget,
             CAST(SUM(w) AS BIGINT) AS w_tot
      FROM hosts),
    ordered AS (
      SELECT host, cap, w,
             COALESCE(SUM(cap) OVER (
               ORDER BY cap * 1000000000000 // w, host
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c_prev,
             COALESCE(SUM(w) OVER (
               ORDER BY cap * 1000000000000 // w, host
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS w_prev
      FROM hosts),
    flagged AS (
      SELECT o.host, o.cap, o.w,
             CAST(CASE WHEN o.cap * (t.w_tot - o.w_prev)
                        <= (t.budget - o.c_prev) * o.w
                  THEN 1 ELSE 0 END AS INT) AS saturated
      FROM ordered o CROSS JOIN tot t),
    sums AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN saturated = 1 THEN cap END), 0)
                  AS BIGINT) AS c_sat,
             CAST(COALESCE(SUM(CASE WHEN saturated = 0 THEN w END), 0)
                  AS BIGINT) AS w_unsat
      FROM flagged)
    SELECT f.host, f.cap, f.w, f.saturated,
           CAST(CASE WHEN f.saturated = 1 THEN f.cap
                ELSE (t.budget - s.c_sat) * f.w
                     // GREATEST(s.w_unsat, 1) END AS BIGINT) AS alloc
    FROM flagged f CROSS JOIN tot t CROSS JOIN sums s
    """,
)
def q_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling crawl-budget allocation — distribute a fixed fetch
    budget across hosts proportional to weight (content mass) but
    capped at each host's capacity: the classic proportional-fairness
    allocation, solved in closed form. Sorted ascending by cap/weight
    (exact shared integer sort key), a host saturates iff its cap sits
    below the running waterline — a prefix property, so one window pass
    of exclusive prefix sums + one cross-multiplied integer test
    decides saturation, and unsaturated hosts split the residual budget
    pro-rata. The global window runs over one row per HOST (corpus-
    shrunk); at 10^8 hosts the same prefix sums come from a range-
    partitioned sort with per-partition offsets. All arithmetic exact
    integer — no float waterline."""
    docs = _t(spark, sf_dir, "documents")
    hosts = docs.groupBy(
        F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string"))
        .alias("host")
    ).agg(
        (F.count(F.lit(1)) * 3).cast("bigint").alias("cap"),
        F.sum("n_chars").cast("bigint").alias("w"))
    tot = hosts.agg(
        F.expr("sum(cap) * 6 div 10").cast("bigint").alias("budget"),
        F.sum("w").cast("bigint").alias("w_tot"))
    win = (Window.orderBy(F.expr("cap * 1000000000000 div w"), F.col("host"))
           .rowsBetween(Window.unboundedPreceding, -1))
    ordered = hosts.select(
        "host", "cap", "w",
        F.coalesce(F.sum("cap").over(win), F.lit(0)).alias("c_prev"),
        F.coalesce(F.sum("w").over(win), F.lit(0)).alias("w_prev"))
    flagged = ordered.crossJoin(F.broadcast(tot)).select(
        "host", "cap", "w",
        (F.col("cap") * (F.col("w_tot") - F.col("w_prev"))
         <= (F.col("budget") - F.col("c_prev")) * F.col("w"))
        .cast("int").alias("saturated"))
    sums = flagged.agg(
        F.coalesce(F.sum(F.when(F.col("saturated") == 1, F.col("cap"))),
                   F.lit(0)).cast("bigint").alias("c_sat"),
        F.coalesce(F.sum(F.when(F.col("saturated") == 0, F.col("w"))),
                   F.lit(0)).cast("bigint").alias("w_unsat"))
    return (flagged.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(sums))
            .select(
                "host", "cap", "w", "saturated",
                F.when(F.col("saturated") == 1, F.col("cap"))
                .otherwise(F.expr(
                    "(budget - c_sat) * w div GREATEST(w_unsat, 1)"))
                .cast("bigint").alias("alloc")))


@query(
    "mad_outliers",
    """
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    r AS (
      SELECT priority, cents,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY cents)
               AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM c),
    med AS (
      SELECT priority, cents AS median_cents
      FROM r WHERE rn = (n + 1) // 2),
    d AS (
      SELECT c.priority, c.cents,
             abs(c.cents - m.median_cents) AS dev, m.median_cents
      FROM c JOIN med m ON c.priority = m.priority),
    rd AS (
      SELECT priority, dev, median_cents,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY dev)
               AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM d),
    mad AS (
      SELECT priority, dev AS mad_cents
      FROM rd WHERE rn = (n + 1) // 2)
    SELECT d.priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(d.median_cents) AS BIGINT) AS median_cents,
           CAST(MAX(mad.mad_cents) AS BIGINT) AS mad_cents,
           CAST(COALESCE(SUM(CASE WHEN d.dev > 3 * mad.mad_cents
                                  THEN 1 END), 0) AS BIGINT)
             AS n_outliers,
           CAST(COALESCE(SUM(CASE WHEN d.dev > 3 * mad.mad_cents
                                  THEN 1 END), 0) * 10000 // COUNT(*)
                AS BIGINT) AS outlier_bp
    FROM d JOIN mad ON d.priority = mad.priority
    GROUP BY d.priority
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per order priority — the
    robust alternative to z-scores (one mega-order shifts a mean and
    stddev but not a median), run before revenue aggregates so fat-
    finger amounts are quarantined. Low median (element (n+1) div 2 of
    the sorted list) instead of the interpolated median keeps every
    value an exact integer both engines agree on. Two window passes
    partitioned by priority; at 10^12 rows the same statistic comes
    from per-partition histogram sketches, but the exact version is the
    correctness anchor."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("cents"))
    wp = Window.partitionBy("priority")
    r = c.select(
        "priority", "cents",
        F.row_number().over(wp.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    med = r.filter(F.expr("rn = (n + 1) div 2")).select(
        "priority", F.col("cents").alias("median_cents"))
    d = c.join(F.broadcast(med), "priority").select(
        "priority", "cents", "median_cents",
        F.abs(F.col("cents") - F.col("median_cents")).alias("dev"))
    rd = d.select(
        "priority", "dev", "median_cents",
        F.row_number().over(wp.orderBy("dev")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    mad = rd.filter(F.expr("rn = (n + 1) div 2")).select(
        "priority", F.col("dev").alias("mad_cents"))
    joined = d.join(F.broadcast(mad), "priority")
    return joined.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("median_cents").cast("bigint").alias("median_cents"),
        F.max("mad_cents").cast("bigint").alias("mad_cents"),
        F.coalesce(F.sum(F.when(
            F.col("dev") > 3 * F.col("mad_cents"), 1)), F.lit(0))
        .cast("bigint").alias("n_outliers"),
        F.expr("COALESCE(SUM(CASE WHEN dev > 3 * mad_cents THEN 1 END),"
               " 0) * 10000 div COUNT(*)")
        .cast("bigint").alias("outlier_bp"))


@query(
    "concurrency_profile",
    """
    WITH iv AS (
      SELECT ts,
             ts + INTERVAL (event_id % 7 + 1) MINUTE AS end_ts
      FROM events),
    pts AS (
      SELECT CAST(ts AS DATE) AS day, ts AS t, 1 AS d FROM iv
      UNION ALL
      SELECT CAST(end_ts AS DATE) AS day, end_ts AS t, -1 AS d FROM iv),
    sweep AS (
      SELECT day, d,
             SUM(d) OVER (PARTITION BY day ORDER BY t, d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running
      FROM pts)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(MAX(running) AS BIGINT) AS max_concurrent,
           CAST(COALESCE(SUM(CASE WHEN d = 1 THEN 1 END), 0) AS BIGINT)
             AS n_starts
    FROM sweep GROUP BY day
    """,
)
def q_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency profile — peak simultaneous activity per
    day from event intervals (start ts, deterministic per-event
    duration): +1/-1 boundary points, a running sum ordered by
    (time, delta) — deltas of -1 sort first, so an interval ending at
    the exact instant another starts never counts as overlap — and the
    per-day max of the running count. The capacity-planning primitive
    (concurrent sessions, connections, streams). Day-partitioned sweep:
    each day's points sort independently, so the shuffle key is the
    day, not a global order; intervals are intra-day here — at
    production scale midnight-crossing intervals are pre-split at day
    boundaries, the standard clip."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "ts",
        F.expr("ts + make_interval(0, 0, 0, 0, 0, "
               "CAST(event_id % 7 + 1 AS INT), 0)").alias("end_ts"))
    pts = (
        iv.select(F.to_date("ts").alias("day"), F.col("ts").alias("t"),
                  F.lit(1).alias("d"))
        .unionByName(
            iv.select(F.to_date("end_ts").alias("day"),
                      F.col("end_ts").alias("t"),
                      F.lit(-1).alias("d"))))
    sweep = pts.select(
        "day", "d",
        F.sum("d").over(
            Window.partitionBy("day").orderBy("t", "d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running"))
    return sweep.groupBy(
        F.col("day").cast("string").alias("day")
    ).agg(
        F.max("running").cast("bigint").alias("max_concurrent"),
        F.coalesce(F.sum(F.when(F.col("d") == 1, 1)), F.lit(0))
        .cast("bigint").alias("n_starts"))


@query(
    "interval_merge",
    """
    WITH iv AS (
      SELECT user_id, ts AS start_ts,
             ts + INTERVAL (event_id % 7 + 1) MINUTE AS end_ts
      FROM events),
    marked AS (
      SELECT user_id, start_ts, end_ts,
             CASE WHEN MAX(end_ts) OVER (PARTITION BY user_id
                    ORDER BY start_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR start_ts > MAX(end_ts) OVER (PARTITION BY user_id
                    ORDER BY start_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_grp
      FROM iv),
    grp AS (
      SELECT user_id, start_ts, end_ts,
             SUM(new_grp) OVER (PARTITION BY user_id ORDER BY start_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM marked),
    merged AS (
      SELECT user_id, g,
             MIN(start_ts) AS s, MAX(end_ts) AS e,
             COUNT(*) AS n_in
      FROM grp GROUP BY user_id, g)
    SELECT user_id,
           CAST(SUM(n_in) AS BIGINT) AS n_raw,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM((epoch_us(e) - epoch_us(s)) // 1000000) AS BIGINT)
             AS covered_sec,
           CAST(MAX((epoch_us(e) - epoch_us(s)) // 1000000) AS BIGINT)
             AS longest_run_sec
    FROM merged GROUP BY user_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user — merge overlapping/touching activity
    intervals into maximal runs (the islands-and-gaps problem): a new
    island starts when an interval's start exceeds the running MAX of
    all previous ends (not just the immediately previous end — an
    umbrella interval can outlast several successors), islands are
    numbered by a running sum of the flags, and per-user coverage is
    the sum of island lengths — the dwell-time/uptime statistic naive
    sum-of-durations double-counts. Touching intervals ([a,b) then
    [b,c)) merge: coverage is a union. Two user-partitioned window
    passes, shuffle keyed by user only."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id", F.col("ts").alias("start_ts"),
        F.expr("ts + make_interval(0, 0, 0, 0, 0, "
               "CAST(event_id % 7 + 1 AS INT), 0)").alias("end_ts"))
    prev = (Window.partitionBy("user_id").orderBy("start_ts")
            .rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.select(
        "user_id", "start_ts", "end_ts",
        (F.max("end_ts").over(prev).isNull()
         | (F.col("start_ts") > F.max("end_ts").over(prev)))
        .cast("int").alias("new_grp"))
    run = (Window.partitionBy("user_id").orderBy("start_ts")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grp = marked.select(
        "user_id", "start_ts", "end_ts",
        F.sum("new_grp").over(run).alias("g"))
    merged = grp.groupBy("user_id", "g").agg(
        F.min("start_ts").alias("s"), F.max("end_ts").alias("e"),
        F.count(F.lit(1)).alias("n_in"))
    return merged.groupBy("user_id").agg(
        F.sum("n_in").cast("bigint").alias("n_raw"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.sum(F.expr("timestampdiff(MICROSECOND, s, e) div 1000000"))
        .cast("bigint").alias("covered_sec"),
        F.max(F.expr("timestampdiff(MICROSECOND, s, e) div 1000000"))
        .cast("bigint").alias("longest_run_sec"))


@query(
    "ab_experiment_chi2",
    """
    WITH assign AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS converted
      FROM events),
    cells AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN variant = 'A' AND converted = 1
                               THEN 1 END), 0) AS BIGINT) AS a,
        CAST(COALESCE(SUM(CASE WHEN variant = 'A' AND converted = 0
                               THEN 1 END), 0) AS BIGINT) AS b,
        CAST(COALESCE(SUM(CASE WHEN variant = 'B' AND converted = 1
                               THEN 1 END), 0) AS BIGINT) AS c,
        CAST(COALESCE(SUM(CASE WHEN variant = 'B' AND converted = 0
                               THEN 1 END), 0) AS BIGINT) AS d
      FROM assign)
    SELECT a, b, c, d,
           CAST(a + b + c + d AS BIGINT) AS n,
           CAST(a * 10000 // GREATEST(a + b, 1) AS BIGINT)
             AS rate_a_bp,
           CAST(c * 10000 // GREATEST(c + d, 1) AS BIGINT)
             AS rate_b_bp,
           CAST(CAST(a + b + c + d AS HUGEINT)
                * (a * d - b * c) * (a * d - b * c) * 10000
                // GREATEST(CAST(a + b AS HUGEINT) * (c + d) * (a + c)
                            * (b + d), 1) AS BIGINT) AS chi2_x10000,
           CAST(CASE WHEN CAST(a + b + c + d AS HUGEINT)
                  * (a * d - b * c) * (a * d - b * c) * 10000
                  // GREATEST(CAST(a + b AS HUGEINT) * (c + d) * (a + c)
                              * (b + d), 1) >= 38415
                THEN 1 ELSE 0 END AS INT) AS significant
    FROM cells
    """,
)
def q_ab_experiment_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with an exact-integer chi-square — variant
    by user-hash parity, conversion by a deterministic event property,
    the 2x2 contingency chi2 = n(ad-bc)^2 / (row and column margins) in
    x10000 fixed point. The cross terms overflow int64 at sf0.1
    ((ad-bc)^2 alone reaches ~10^18), so both engines compute in 128
    bits (HUGEINT / DECIMAL(38,0)) — the same widening discipline as
    the share-ratio operators. Significance at the 3.8415 (p=0.05,
    1 df) threshold. One scan, one 4-cell conditional aggregate —
    map-side partials do all the work."""
    ev = _t(spark, sf_dir, "events")
    assign = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise("B")
        .alias("variant"),
        (F.col("event_id") % 7 == 0).cast("int").alias("converted"))
    cells = assign.agg(
        F.coalesce(F.sum(F.when((F.col("variant") == "A")
                                & (F.col("converted") == 1), 1)),
                   F.lit(0)).cast("bigint").alias("a"),
        F.coalesce(F.sum(F.when((F.col("variant") == "A")
                                & (F.col("converted") == 0), 1)),
                   F.lit(0)).cast("bigint").alias("b"),
        F.coalesce(F.sum(F.when((F.col("variant") == "B")
                                & (F.col("converted") == 1), 1)),
                   F.lit(0)).cast("bigint").alias("c"),
        F.coalesce(F.sum(F.when((F.col("variant") == "B")
                                & (F.col("converted") == 0), 1)),
                   F.lit(0)).cast("bigint").alias("d"))
    chi2 = (
        "CAST(a + b + c + d AS DECIMAL(38,0))"
        " * (a * d - b * c) * (a * d - b * c) * 10000"
        " div GREATEST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c)"
        " * (b + d), 1)")
    return cells.select(
        "a", "b", "c", "d",
        F.expr("a + b + c + d").cast("bigint").alias("n"),
        F.expr("a * 10000 div GREATEST(a + b, 1)").cast("bigint")
        .alias("rate_a_bp"),
        F.expr("c * 10000 div GREATEST(c + d, 1)").cast("bigint")
        .alias("rate_b_bp"),
        F.expr(chi2).cast("bigint").alias("chi2_x10000"),
        (F.expr(chi2) >= 38415).cast("int").alias("significant"))


_ACRO_TEXT = (
    ["The Central Processing Unit (CPU) runs the show case ", 5],
    ["We signed the Free Trade Agreement (FTA) today round ", 3],
    ["The Big Announcement (NASA) surprised everyone ", 7],
    ["No parenthetical definitions appear here at all ", 3],
)
_ACRO_TEXT_SQL = _docs_sql(_ACRO_TEXT, "text")

_ACRO_PAT = "((?:[A-Z][a-z]+ ){1,5})\\(([A-Z]{2,6})\\)"

_ACRO_SQL = (
    "WITH u AS (" + _ACRO_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             nullif(trim(regexp_extract(text,
                 '((?:[A-Z][a-z]+ ){1,5})\\(([A-Z]{2,6})\\)', 1)), '')
               AS phrase,
             nullif(regexp_extract(text,
                 '((?:[A-Z][a-z]+ ){1,5})\\(([A-Z]{2,6})\\)', 2), '')
               AS acronym
      FROM u),
    v AS (
      SELECT doc, phrase, acronym,
             CASE WHEN acronym IS NOT NULL THEN
               array_to_string(list_transform(
                 (string_split(phrase, ' '))
                   [GREATEST(len(string_split(phrase, ' '))
                             - length(acronym) + 1, 1)
                    : len(string_split(phrase, ' '))],
                 w -> substr(w, 1, 1)), '')
             END AS initials
      FROM m)
    SELECT doc, phrase, acronym, initials,
           CAST(CASE WHEN initials = acronym THEN 1 ELSE 0 END AS INT)
             AS is_valid
    FROM v
    """
)


@query("acronym_defs", _ACRO_SQL)
def q_acronym_defs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acronym-definition mining — 'Expanded Phrase (ACRO)' patterns
    are the classic glossary seed for domain corpora, but the raw
    pattern over-captures ('The Big Announcement (NASA)'), so the
    initials of the LAST len(acronym) captured words must equal the
    acronym for the pair to validate. Candidate extraction is one
    regex; validation is in-row array slicing + initials concat —
    identical list arithmetic in both engines. No-definition documents
    yield NULLs, never ''. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _ACRO_TEXT, "text")
    phrase = F.nullif(F.trim(F.regexp_extract("text", _ACRO_PAT, 1)),
                      F.lit(""))
    acro = F.nullif(F.regexp_extract("text", _ACRO_PAT, 2), F.lit(""))
    m2 = docs.select("doc", phrase.alias("phrase"),
                     acro.alias("acronym"))
    words = F.split("phrase", " ")
    initials = F.when(
        F.col("acronym").isNotNull(),
        F.concat_ws("", F.transform(
            F.slice(words,
                    F.greatest(F.size(words) - F.length("acronym") + 1,
                               F.lit(1)),
                    F.length("acronym")),
            lambda w: F.substring(w, 1, 1))))
    v = m2.select("doc", "phrase", "acronym",
                  initials.alias("initials"))
    return v.select(
        "doc", "phrase", "acronym", "initials",
        F.when(F.col("initials") == F.col("acronym"), 1).otherwise(0)
        .cast("int").alias("is_valid"))


@query(
    "broken_links",
    """
    WITH links AS (
      SELECT doc_id AS doc, doc_id * 2 AS tgt FROM documents
      UNION ALL
      SELECT doc_id AS doc, doc_id * 2 + 1 AS tgt FROM documents),
    joined AS (
      SELECT l.doc, l.tgt, d.doc_id AS hit
      FROM links l LEFT JOIN documents d ON l.tgt = d.doc_id)
    SELECT doc,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COALESCE(SUM(CASE WHEN hit IS NULL THEN 1 END), 0)
                AS BIGINT) AS n_broken,
           CAST(COALESCE(SUM(CASE WHEN hit IS NULL THEN 1 END), 0)
                * 10000 // COUNT(*) AS BIGINT) AS broken_bp
    FROM joined GROUP BY doc
    """,
)
def q_broken_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-link audit — each document's outgoing link targets LEFT-
    joined against the fetched-page index; targets with no match are
    broken, reported as a per-page count and basis-point ratio (a
    link-rot quality signal, and the freshness probe recrawl
    schedulers consume). The join is id-keyed against the full corpus
    index — at production scale this is the hash(url)-bucketed join
    the pipeline's payload join already demonstrates, never a
    broadcast (the index side is corpus-sized). Deterministic link
    synthesis: doc k links to 2k and 2k+1, so the upper half of the id
    space is dead by construction."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    links = docs.select(
        k.alias("doc"),
        F.explode(F.array((k * 2).cast("bigint"),
                          (k * 2 + 1).cast("bigint"))).alias("tgt"))
    index = docs.select(F.col("doc_id").alias("tgt"),
                        F.lit(1).alias("hit"))
    joined = links.join(index, "tgt", "left")
    return joined.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.coalesce(F.sum(F.when(F.col("hit").isNull(), 1)), F.lit(0))
        .cast("bigint").alias("n_broken"),
        F.expr("COALESCE(SUM(CASE WHEN hit IS NULL THEN 1 END), 0)"
               " * 10000 div COUNT(*)")
        .cast("bigint").alias("broken_bp"))


@query(
    "latency_percentiles",
    """
    WITH v AS (
      SELECT event_type,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events),
    r AS (
      SELECT event_type, v_us,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v_us)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v_us END)
                AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN v_us END)
                AS BIGINT) AS p95_us,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN v_us END)
                AS BIGINT) AS p99_us
    FROM r GROUP BY event_type
    """,
)
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles (p50/p95/p99) per event type over
    micro-unit integer values — the SLO readout. Nearest-rank
    (ceil(q*n), computed as (n*q+99) div 100 in integers) instead of
    interpolation keeps every reported value an actual observed sample
    and makes both engines agree exactly; interpolated percentiles are
    engine-dependent floats. One window pass partitioned by type + one
    conditional aggregate; at 10^12 events the same statistic comes
    from mergeable histogram sketches with these exact values as the
    correctness anchor (same discipline as mad_outliers)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v_us"))
    wp = Window.partitionBy("event_type")
    r = v.select(
        "event_type", "v_us",
        F.row_number().over(wp.orderBy("v_us")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(F.expr("rn = (n * 50 + 99) div 100"),
                     F.col("v_us"))).cast("bigint").alias("p50_us"),
        F.max(F.when(F.expr("rn = (n * 95 + 99) div 100"),
                     F.col("v_us"))).cast("bigint").alias("p95_us"),
        F.max(F.when(F.expr("rn = (n * 99 + 99) div 100"),
                     F.col("v_us"))).cast("bigint").alias("p99_us"))


_GEO_BOUNDS = [0, 300000000, 700000000, 1200000000, 1800000000,
               2500000000, 3300000000, 4000000000, 4294967296]
_GEO_BUCKET = 268435456  # 2^28


@query(
    "ip_geo_lookup",
    """
    WITH ip AS (
      SELECT (event_id * 2654435761) % 4294967296 AS ip FROM events),
    r AS (
      SELECT * FROM (VALUES
        ('C0', 0, 299999999), ('C1', 300000000, 699999999),
        ('C2', 700000000, 1199999999), ('C3', 1200000000, 1799999999),
        ('C4', 1800000000, 2499999999), ('C5', 2500000000, 3299999999),
        ('C6', 3300000000, 3999999999), ('C7', 4000000000, 4294967295))
        AS t(cc, lo, hi))
    SELECT r.cc,
           CAST(COUNT(*) AS BIGINT) AS n_ips,
           CAST(MIN(ip.ip) AS BIGINT) AS min_ip,
           CAST(MAX(ip.ip) AS BIGINT) AS max_ip
    FROM ip JOIN r ON ip.ip BETWEEN r.lo AND r.hi
    GROUP BY r.cc
    """,
)
def q_ip_geo_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoIP range lookup as a BUCKETIZED range join — the non-equi
    'point BETWEEN lo AND hi' join that naive plans turn into a
    nested-loop scan. Each range is exploded to the fixed-width (2^28)
    buckets it covers, the probe side equi-joins on bucket(ip), and a
    residual BETWEEN filter finishes — so the join is a broadcast hash
    join on an integer key, and per-bucket fan-out is bounded by how
    many ranges cross a bucket (GeoIP: a few), never by table size.
    The oracle twin runs the plain BETWEEN join; results must be
    identical. IPs are a deterministic Knuth multiplicative hash of
    event ids."""
    ev = _t(spark, sf_dir, "events")
    ips = ev.select(
        ((F.col("event_id") * 2654435761) % 4294967296)
        .cast("bigint").alias("ip"))
    ranges = spark.createDataFrame(
        [(f"C{i}", _GEO_BOUNDS[i], _GEO_BOUNDS[i + 1] - 1)
         for i in range(8)], ["cc", "lo", "hi"])
    exploded = ranges.select(
        "cc", "lo", "hi",
        F.explode(F.sequence(
            (F.col("lo") / _GEO_BUCKET).cast("bigint"),
            (F.col("hi") / _GEO_BUCKET).cast("bigint"))).alias("bucket"))
    probe = ips.withColumn(
        "bucket", (F.col("ip") / _GEO_BUCKET).cast("bigint"))
    joined = probe.join(F.broadcast(exploded), "bucket").filter(
        (F.col("ip") >= F.col("lo")) & (F.col("ip") <= F.col("hi")))
    return joined.groupBy("cc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ips"),
        F.min("ip").cast("bigint").alias("min_ip"),
        F.max("ip").cast("bigint").alias("max_ip"))


@query(
    "audience_overlap",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events),
    totals AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ut GROUP BY event_type),
    pairs AS (
      SELECT x.event_type AS t1, y.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM ut x JOIN ut y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY x.event_type, y.event_type)
    SELECT p.t1, p.t2, p.inter,
           a.n_users AS n1, b.n_users AS n2,
           CAST(p.inter * 10000
                // (a.n_users + b.n_users - p.inter) AS BIGINT)
             AS jaccard_bp
    FROM pairs p
    JOIN totals a ON p.t1 = a.event_type
    JOIN totals b ON p.t2 = b.event_type
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event-type segments — exact pairwise
    Jaccard of user sets, the segmentation-health readout. Spark-first
    shape: one user-keyed distinct, then each user's sorted type array
    emits its pairs IN-ROW (index-aware transform + slice — a user
    touches at most |types| segments, so fan-out is combinations of a
    tiny set), then a pair-keyed count; the user-side self-join the SQL
    twin runs would be a second full shuffle of the fact table. Segment
    totals broadcast back onto the pair counts."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    totals = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))
    arrs = ut.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types"))
    pairs = arrs.select(F.explode(F.flatten(F.transform(
        "types",
        lambda x, i: F.transform(
            F.slice(F.col("types"), i + 2,
                    F.size(F.col("types"))),
            lambda y: F.struct(x.alias("t1"), y.alias("t2")))))
    ).alias("p")).select("p.t1", "p.t2")
    inter = pairs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("bigint").alias("inter"))
    a = totals.select(F.col("event_type").alias("t1"),
                      F.col("n_users").alias("n1"))
    b = totals.select(F.col("event_type").alias("t2"),
                      F.col("n_users").alias("n2"))
    joined = inter.join(F.broadcast(a), "t1").join(F.broadcast(b), "t2")
    return joined.select(
        "t1", "t2", "inter", "n1", "n2",
        F.expr("inter * 10000 div (n1 + n2 - inter)")
        .cast("bigint").alias("jaccard_bp"))


_ANC_SQL = """
      SELECT c AS c0,
             CASE WHEN c > 0 THEN (c - 1) // 3 END AS c1
      FROM cat
"""


@query(
    "category_rollup",
    """
    WITH cat AS (
      SELECT doc_id % 40 AS c, CAST(COUNT(*) AS BIGINT) AS own_cnt
      FROM documents GROUP BY doc_id % 40),
    chain AS (
      SELECT c, own_cnt,
             list_filter([
               c,
               CASE WHEN c > 0 THEN (c - 1) // 3 END,
               CASE WHEN c > 3 THEN ((c - 1) // 3 - 1) // 3 END,
               CASE WHEN c > 12 THEN (((c - 1) // 3 - 1) // 3 - 1) // 3
                    END,
               CASE WHEN c > 39 THEN 0 END
             ], x -> x IS NOT NULL) AS ancestors
      FROM cat),
    exploded AS (
      SELECT unnest(ancestors) AS category, own_cnt,
             len(ancestors) - 1 AS depth_of_leaf, c
      FROM chain)
    SELECT e.category,
           CAST(MAX(CASE WHEN e.c = e.category THEN e.own_cnt END)
                AS BIGINT) AS own_cnt,
           CAST(SUM(e.own_cnt) AS BIGINT) AS subtree_cnt,
           CAST(MAX(CASE WHEN e.c = e.category
                    THEN e.depth_of_leaf END) AS BIGINT) AS depth
    FROM exploded e GROUP BY e.category
    """,
)
def q_category_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup — documents hang off a ternary
    category tree (parent(c) = (c-1) div 3, root 0), and every
    category reports its OWN count plus the sum over its whole subtree.
    Spark-first shape: each category materializes its ancestor PATH
    in-row (fixed-depth unrolled closed form — depth is log3 of the
    category space, 4 levels here), explodes it, and one ancestor-keyed
    aggregate produces every subtree sum simultaneously — no recursion,
    no per-level join round trips, fan-out bounded by tree depth. The
    standard scale pattern for category/taxonomy rollups (a recursive
    CTE is the row-at-a-time equivalent)."""
    docs = _t(spark, sf_dir, "documents")
    cat = docs.groupBy((F.col("doc_id") % 40).alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("own_cnt"))
    chain = cat.select(
        "c", "own_cnt",
        F.filter(F.array(
            F.col("c"),
            F.when(F.col("c") > 0, F.expr("(c - 1) div 3")),
            F.when(F.col("c") > 3, F.expr("((c - 1) div 3 - 1) div 3")),
            F.when(F.col("c") > 12,
                   F.expr("(((c - 1) div 3 - 1) div 3 - 1) div 3")),
            F.when(F.col("c") > 39, F.lit(0)),
        ), lambda x: x.isNotNull()).alias("ancestors"))
    exploded = chain.select(
        F.explode("ancestors").alias("category"), "own_cnt",
        (F.size("ancestors") - 1).alias("depth_of_leaf"), "c")
    return exploded.groupBy("category").agg(
        F.max(F.when(F.col("c") == F.col("category"),
                     F.col("own_cnt"))).cast("bigint").alias("own_cnt"),
        F.sum("own_cnt").cast("bigint").alias("subtree_cnt"),
        F.max(F.when(F.col("c") == F.col("category"),
                     F.col("depth_of_leaf"))).cast("bigint")
        .alias("depth"))


@query(
    "rendezvous_assign",
    """
    WITH d AS (SELECT doc_id FROM documents),
    a5 AS (
      SELECT doc_id,
             (SELECT n FROM (
                SELECT unnest(range(0, 5)) AS n) nn
              ORDER BY ((doc_id * 2654435761) % 1000000007 + 1) * (n * 69069 + 12345) % 1000000007
                       DESC, n LIMIT 1) AS node5
      FROM d),
    a6 AS (
      SELECT doc_id,
             (SELECT n FROM (
                SELECT unnest(range(0, 6)) AS n) nn
              ORDER BY ((doc_id * 2654435761) % 1000000007 + 1) * (n * 69069 + 12345) % 1000000007
                       DESC, n LIMIT 1) AS node6
      FROM d),
    j AS (
      SELECT a5.doc_id, a5.node5, a6.node6
      FROM a5 JOIN a6 ON a5.doc_id = a6.doc_id)
    SELECT node6 AS node,
           CAST(COALESCE(SUM(CASE WHEN node5 = node6 THEN 1 END), 0)
                AS BIGINT) AS n_stayed,
           CAST(COALESCE(SUM(CASE WHEN node5 <> node6 THEN 1 END), 0)
                AS BIGINT) AS n_moved_in,
           CAST(COUNT(*) AS BIGINT) AS n_assigned
    FROM j GROUP BY node6
    """,
)
def q_rendezvous_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment — every doc
    scores each node with a shared deterministic hash and goes to the
    argmax; adding a node moves ONLY the docs the new node now wins
    (the minimal-disruption property that makes consistent assignment
    the standard for shard routing and cache placement — modulo
    hashing would reshuffle nearly everything). Computed in-row: the
    per-doc score list over the node set is a transform + struct-MAX
    argmax, no join against a node table; the 5-node and 6-node
    assignments come from the same projection and one groupBy reports
    stayed/moved-in per node. The oracle twin computes the argmax via
    correlated ORDER BY ... LIMIT 1."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def argmax(n_nodes: int):
        return F.expr(
            "array_max(transform(sequence(0, {m}), n -> "
            "struct(((doc_id * 2654435761) % 1000000007 + 1) * (n * 69069 + 12345) % 1000000007"
            " AS score, -n AS neg))).neg * -1".format(m=n_nodes - 1))

    assigned = docs.select(
        "doc_id",
        argmax(5).cast("bigint").alias("node5"),
        argmax(6).cast("bigint").alias("node6"))
    return assigned.groupBy(F.col("node6").alias("node")).agg(
        F.coalesce(F.sum(F.when(F.col("node5") == F.col("node6"), 1)),
                   F.lit(0)).cast("bigint").alias("n_stayed"),
        F.coalesce(F.sum(F.when(F.col("node5") != F.col("node6"), 1)),
                   F.lit(0)).cast("bigint").alias("n_moved_in"),
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"))


@query(
    "source_cover",
    """
    WITH sh AS (
      SELECT DISTINCT source, doc_id % 50 AS host FROM documents),
    c1 AS (SELECT source, COUNT(*) AS cnt FROM sh GROUP BY source),
    p1 AS (SELECT source, cnt FROM c1
           ORDER BY cnt DESC, source LIMIT 1),
    cov1 AS (SELECT DISTINCT sh.host FROM sh JOIN p1 USING (source)),
    rem1 AS (SELECT sh.* FROM sh
             WHERE sh.host NOT IN (SELECT host FROM cov1)),
    c2 AS (SELECT source, COUNT(*) AS cnt FROM rem1 GROUP BY source),
    p2 AS (SELECT source, cnt FROM c2
           ORDER BY cnt DESC, source LIMIT 1),
    cov2 AS (SELECT DISTINCT rem1.host FROM rem1 JOIN p2 USING (source)),
    rem2 AS (SELECT rem1.* FROM rem1
             WHERE rem1.host NOT IN (SELECT host FROM cov2)),
    c3 AS (SELECT source, COUNT(*) AS cnt FROM rem2 GROUP BY source),
    p3 AS (SELECT source, cnt FROM c3
           ORDER BY cnt DESC, source LIMIT 1)
    SELECT * FROM (
      SELECT 1 AS round, source, CAST(cnt AS BIGINT) AS new_hosts
      FROM p1
      UNION ALL
      SELECT 2 AS round, source, CAST(cnt AS BIGINT) FROM p2
      UNION ALL
      SELECT 3 AS round, source, CAST(cnt AS BIGINT) FROM p3) t
    """,
)
def q_source_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy set cover for source selection — pick the 3 sources that
    together cover the most hosts, the classic data-acquisition
    question ('which feeds buy the most coverage?'). Each round picks
    the source covering the most NOT-yet-covered hosts (the greedy
    (1-1/e) approximation), fully declaratively: the per-round argmax
    is a row_number-1 filter over source counts (a tiny window — one
    row per SOURCE), the covered set propagates by anti-join, and no
    round ever collects to the driver. Three unrolled rounds; a k-round
    version is the same block in a loop with checkpoint-per-round like
    dedup_components."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "source", (F.col("doc_id") % 50).alias("host")).distinct()

    def pick(remaining: DataFrame):
        cnt = remaining.groupBy("source").agg(
            F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(F.col("cnt").desc(), F.col("source"))
        return (cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).drop("rn"))

    p1 = pick(sh)
    cov1 = sh.join(F.broadcast(p1.select("source")), "source").select(
        "host").distinct()
    rem1 = sh.join(F.broadcast(cov1), "host", "left_anti")
    p2 = pick(rem1)
    cov2 = rem1.join(F.broadcast(p2.select("source")), "source").select(
        "host").distinct()
    rem2 = rem1.join(F.broadcast(cov2), "host", "left_anti")
    p3 = pick(rem2)
    rounds = []
    for i, p in enumerate((p1, p2, p3), start=1):
        rounds.append(p.select(
            F.lit(i).alias("round"), "source",
            F.col("cnt").cast("bigint").alias("new_hosts")))
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


_TITLE_TEXT = (
    ["Breaking News Markets Rally Today"],
    ["markets rally today breaking news"],
    ["Local Team Wins The Cup ", 5],
    ["The Cup Wins Local Team ", 5],
)
_TITLE_TEXT_SQL = _docs_sql(_TITLE_TEXT, "title")

_TITLE_SQL = (
    "WITH u AS (" + _TITLE_TEXT_SQL + "),"
    """
    s AS (
      SELECT doc,
             array_to_string(list_sort(list_filter(
               string_split(lower(title), ' '),
               w -> w NOT IN ('the', 'a', 'an'))), ' ') AS sig
      FROM u)
    SELECT sig,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc) AS BIGINT) AS keeper,
           CAST(MAX(doc) AS BIGINT) AS max_doc
    FROM s GROUP BY sig HAVING COUNT(*) >= 2
    """
)


@query("title_signature_dedup", _TITLE_SQL)
def q_title_signature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-token title signatures — the canopy dedup news pipelines
    run before anything expensive: lowercase, drop articles, sort the
    tokens, and group. Reordered syndicated headlines ('Breaking News
    Markets Rally Today' vs 'markets rally today breaking news')
    collapse to one signature; clusters of >=2 report size and the
    min-id keeper. One exact groupBy on the signature — the O(n)
    pre-filter that spares MinHash the easy 90%. Zero-shuffle
    projection + one signature-keyed agg."""
    docs = _docs(spark, sf_dir, _TITLE_TEXT, "title")
    sig = F.array_join(F.array_sort(F.filter(
        F.split(F.lower("title"), " "),
        lambda w: ~w.isin("the", "a", "an"))), " ")
    s = docs.select("doc", sig.alias("sig"))
    return (s.groupBy("sig")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("doc").cast("bigint").alias("keeper"),
                 F.max("doc").cast("bigint").alias("max_doc"))
            .filter(F.col("n_docs") >= 2))


# a deterministic labeler pair: every 7th doc mispredicts to the next class
_LABEL = (["x"], ["y"], ["z"])
_PREDICTED = ([(["y"], ["z"], ["x"])],) + ([_LABEL],) * 6


@query(
    "multiclass_prf",
    f"""
    WITH lab AS (
      SELECT {case_sql('doc_id', _LABEL)} AS truth,
             {case_sql('doc_id', _PREDICTED)} AS pred
      FROM documents),
    conf AS (
      SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY truth, pred),
    cls AS (SELECT unnest(['x', 'y', 'z']) AS cls),
    m AS (
      SELECT cls.cls,
             CAST(COALESCE(SUM(CASE WHEN conf.truth = cls.cls
                    AND conf.pred = cls.cls THEN conf.n END), 0)
                  AS BIGINT) AS tp,
             CAST(COALESCE(SUM(CASE WHEN conf.pred = cls.cls
                    AND conf.truth <> cls.cls THEN conf.n END), 0)
                  AS BIGINT) AS fp,
             CAST(COALESCE(SUM(CASE WHEN conf.truth = cls.cls
                    AND conf.pred <> cls.cls THEN conf.n END), 0)
                  AS BIGINT) AS fn
      FROM cls CROSS JOIN conf GROUP BY cls.cls),
    pr AS (
      SELECT cls, tp, fp, fn,
             CAST(tp * 10000 // GREATEST(tp + fp, 1) AS BIGINT)
               AS precision_bp,
             CAST(tp * 10000 // GREATEST(tp + fn, 1) AS BIGINT)
               AS recall_bp
      FROM m)
    SELECT cls, tp, fp, fn, precision_bp, recall_bp,
           CAST(2 * precision_bp * recall_bp
                // GREATEST(precision_bp + recall_bp, 1) AS BIGINT)
             AS f1_bp
    FROM pr
    """,
)
def q_multiclass_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 in exact basis points — the
    classifier-eval readout every routing model (language, content
    type, quality tier) reports. The deterministic labeler pair plants
    a rotating confusion (every 7th doc mispredicts to the next class)
    so tp/fp/fn are all exercised. Confusion matrix first (a 9-row
    aggregate — the only scan), then per-class conditional sums over
    the TINY matrix crossed with the class dim, never a second pass
    over the data; F1 is the integer harmonic of the bp values."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    lab = docs.select(case_col(k, _LABEL).alias("truth"),
                      case_col(k, _PREDICTED).alias("pred"))
    conf = lab.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    cls = spark.createDataFrame([("x",), ("y",), ("z",)], ["cls"])
    m = (F.broadcast(cls).crossJoin(conf)
         .groupBy("cls")
         .agg(
             F.coalesce(F.sum(F.when(
                 (F.col("truth") == F.col("cls"))
                 & (F.col("pred") == F.col("cls")), F.col("n"))),
                 F.lit(0)).cast("bigint").alias("tp"),
             F.coalesce(F.sum(F.when(
                 (F.col("pred") == F.col("cls"))
                 & (F.col("truth") != F.col("cls")), F.col("n"))),
                 F.lit(0)).cast("bigint").alias("fp"),
             F.coalesce(F.sum(F.when(
                 (F.col("truth") == F.col("cls"))
                 & (F.col("pred") != F.col("cls")), F.col("n"))),
                 F.lit(0)).cast("bigint").alias("fn")))
    pr = m.select(
        "cls", "tp", "fp", "fn",
        F.expr("tp * 10000 div GREATEST(tp + fp, 1)").cast("bigint")
        .alias("precision_bp"),
        F.expr("tp * 10000 div GREATEST(tp + fn, 1)").cast("bigint")
        .alias("recall_bp"))
    return pr.select(
        "cls", "tp", "fp", "fn", "precision_bp", "recall_bp",
        F.expr("2 * precision_bp * recall_bp"
               " div GREATEST(precision_bp + recall_bp, 1)")
        .cast("bigint").alias("f1_bp"))


@query(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    w AS (
      SELECT event_type, day, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS i,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM daily),
    s AS (
      SELECT event_type, day, i, n, total,
             abs(prefix * n - i * total) AS abs_s
      FROM w WHERE i < n),
    best AS (
      SELECT event_type,
             max({'a': abs_s, 'negi': -i,
                  'd': CAST(day AS VARCHAR)}) AS b,
             CAST(MAX(n) AS BIGINT) AS n_days,
             CAST(MAX(total) AS BIGINT) AS total
      FROM s GROUP BY event_type)
    SELECT event_type, n_days, total,
           CAST(b.negi * -1 AS BIGINT) AS cp_index,
           b.d AS cp_day,
           CAST(b.a AS BIGINT) AS peak_scaled
    FROM best
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type — where did the daily rate
    shift? The scaled CUSUM S'_i = prefix_i * n - i * total (the
    classic sum-minus-mean curve multiplied through by n, so every
    value stays an exact integer — no fractional mean) peaks at the
    most likely changepoint; the argmax (first index on ties, via
    struct-MAX with negated index) is reported with its day and peak.
    Window prefix sums partitioned by type over the tiny daily grain;
    the heavy count is the same (type, day) partial aggregate the
    anomaly fold uses."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    w = daily.select(
        "event_type", "day", "cnt",
        F.row_number().over(wo).alias("i"),
        F.sum("cnt").over(
            wo.rowsBetween(Window.unboundedPreceding,
                           Window.currentRow)).alias("prefix"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("cnt").over(wp).alias("total"))
    s = w.filter(F.col("i") < F.col("n")).select(
        "event_type", "n", "total",
        F.abs(F.col("prefix") * F.col("n")
              - F.col("i") * F.col("total")).alias("abs_s"),
        F.col("i"), F.col("day"))
    best = s.groupBy("event_type").agg(
        F.max(F.struct(
            F.col("abs_s").alias("a"),
            (-F.col("i")).alias("negi"),
            F.col("day").cast("string").alias("d"))).alias("b"),
        F.max("n").cast("bigint").alias("n_days"),
        F.max("total").cast("bigint").alias("total"))
    return best.select(
        "event_type", "n_days", "total",
        (F.col("b.negi") * -1).cast("bigint").alias("cp_index"),
        F.col("b.d").alias("cp_day"),
        F.col("b.a").cast("bigint").alias("peak_scaled"))


@query(
    "dow_seasonality",
    """
    WITH e AS (
      SELECT isodow(ts) AS dow, CAST(ts AS DATE) AS day FROM events),
    per_dow AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM e GROUP BY dow),
    tot AS (
      SELECT CAST(SUM(n_events) AS BIGINT) AS total_events,
             CAST(SUM(n_days) AS BIGINT) AS total_days
      FROM per_dow)
    SELECT p.dow, p.n_events, p.n_days,
           CAST(p.n_events * t.total_days * 10000
                // GREATEST(p.n_days * t.total_events, 1) AS BIGINT)
             AS index_bp
    FROM per_dow p CROSS JOIN tot t
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index — each weekday's events-per-day
    rate against the overall rate, in exact basis points (10000 =
    average day). The recrawl scheduler and anomaly thresholds both
    consume this: a Saturday at 60% of baseline is normal, a Tuesday
    at 60% is an incident. ISO weekday numbering (1 = Monday) aligned
    across engines (Spark weekday()+1 == DuckDB isodow()). One 7-group
    aggregate + a 1-row broadcast total."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
        F.to_date("ts").alias("day"))
    per_dow = e.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("day").cast("bigint").alias("n_days"))
    tot = per_dow.agg(
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.sum("n_days").cast("bigint").alias("total_days"))
    return per_dow.crossJoin(F.broadcast(tot)).select(
        "dow", "n_events", "n_days",
        F.expr("n_events * total_days * 10000"
               " div GREATEST(n_days * total_events, 1)")
        .cast("bigint").alias("index_bp"))


@query(
    "time_weighted_avg",
    """
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events),
    stepped AS (
      SELECT user_id, v_us,
             CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) ) - epoch_us(ts) AS BIGINT)
               AS dt_us
      FROM v),
    agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(COALESCE(SUM(CAST(v_us AS HUGEINT) * dt_us), 0)
                  AS HUGEINT) AS wsum,
             CAST(COALESCE(SUM(dt_us), 0) AS BIGINT) AS span_us
      FROM stepped GROUP BY user_id)
    SELECT user_id, n_samples, span_us,
           CAST(wsum // GREATEST(span_us, 1) AS BIGINT) AS twa_us
    FROM agg
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-function time-weighted average per user — each sample's
    value HOLDS until the next sample, so the mean must weight by
    holding time (the utilization/gauge semantics every metrics system
    implements; a plain AVG over-counts bursts of samples). LEAD gives
    each sample its holding interval in exact microseconds; the
    weighted sum runs in 128 bits (value_us x dt_us reaches ~10^17 per
    row — the established HUGEINT/DECIMAL(38,0) widening) and the
    final division floors once. One user-partitioned window + one
    aggregate; deterministic tie order via (ts, event_id)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v_us"))
    stepped = v.select(
        "user_id", "v_us",
        F.expr("timestampdiff(MICROSECOND, ts, "
               "LEAD(ts) OVER (PARTITION BY user_id"
               " ORDER BY ts, event_id))").cast("bigint").alias("dt_us"))
    agg = stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.coalesce(
            F.sum(F.expr("CAST(v_us AS DECIMAL(38,0)) * dt_us")),
            F.lit(0)).alias("wsum"),
        F.coalesce(F.sum("dt_us"), F.lit(0)).cast("bigint")
        .alias("span_us"))
    return agg.select(
        "user_id", "n_samples", "span_us",
        F.expr("wsum div GREATEST(span_us, 1)").cast("bigint")
        .alias("twa_us"))


@query(
    "rank_correlation",
    """
    WITH nm AS (
      SELECT c.c_nationkey AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey),
    pairs AS (
      SELECT x.revenue_cents AS r1, y.revenue_cents AS r2,
             x.n_orders AS c1, y.n_orders AS c2
      FROM nm x JOIN nm y ON x.nation < y.nation),
    cls AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN (r1 - r2) * (c1 - c2) > 0
                               THEN 1 END), 0) AS BIGINT) AS concordant,
        CAST(COALESCE(SUM(CASE WHEN (r1 - r2) * (c1 - c2) < 0
                               THEN 1 END), 0) AS BIGINT) AS discordant,
        CAST(COALESCE(SUM(CASE WHEN (r1 - r2) * (c1 - c2) = 0
                               THEN 1 END), 0) AS BIGINT) AS tied,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs)
    SELECT concordant, discordant, tied, n_pairs,
           CAST((concordant - discordant) * 10000
                // GREATEST(n_pairs, 1) AS BIGINT) AS tau_bp
    FROM cls
    """,
)
def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau between two nation rankings (revenue vs order count)
    — do two metrics order the world the same way? Computed directly
    from metric values: a pair is concordant when the sign of the
    revenue difference matches the sign of the count difference, so no
    rank assignment (and no tie-breaking policy) is needed; ties count
    in the denominator (tau-a). The pairwise cross runs over the
    NATION-grain dim (~25 rows -> ~300 pairs), never over orders — the
    fact-table work is one join + one group-by, the TPC-H Q5 shape."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nm = (orders.join(F.broadcast(customer.select("c_custkey",
                                                  "c_nationkey")),
                      orders.o_custkey == F.col("c_custkey"))
          .groupBy(F.col("c_nationkey").alias("nation"))
          .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                     .cast("bigint")).cast("bigint")
               .alias("revenue_cents"),
               F.count(F.lit(1)).cast("bigint").alias("n_orders")))
    x = nm.select(F.col("nation").alias("na"),
                  F.col("revenue_cents").alias("r1"),
                  F.col("n_orders").alias("c1"))
    y = nm.select(F.col("nation").alias("nb"),
                  F.col("revenue_cents").alias("r2"),
                  F.col("n_orders").alias("c2"))
    pairs = x.join(F.broadcast(y), F.col("na") < F.col("nb"))
    cls = pairs.agg(
        F.coalesce(F.sum(F.when(
            (F.col("r1") - F.col("r2")) * (F.col("c1") - F.col("c2"))
            > 0, 1)), F.lit(0)).cast("bigint").alias("concordant"),
        F.coalesce(F.sum(F.when(
            (F.col("r1") - F.col("r2")) * (F.col("c1") - F.col("c2"))
            < 0, 1)), F.lit(0)).cast("bigint").alias("discordant"),
        F.coalesce(F.sum(F.when(
            (F.col("r1") - F.col("r2")) * (F.col("c1") - F.col("c2"))
            == 0, 1)), F.lit(0)).cast("bigint").alias("tied"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return cls.select(
        "concordant", "discordant", "tied", "n_pairs",
        F.expr("(concordant - discordant) * 10000"
               " div GREATEST(n_pairs, 1)").cast("bigint")
        .alias("tau_bp"))


@query(
    "weekly_autocorr",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    lagged AS (
      SELECT event_type, cnt AS x,
             LEAD(cnt, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS y
      FROM daily),
    p AS (
      SELECT event_type, x, y FROM lagged WHERE y IS NOT NULL),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM p GROUP BY event_type HAVING COUNT(*) >= 3)
    SELECT event_type, m,
           CAST(m * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(CASE WHEN (m * sxx - sx * sx) = 0
                      OR (m * syy - sy * sy) = 0 THEN 0
                ELSE CAST(CAST(m * sxy - sx * sy AS HUGEINT)
                     * (m * sxy - sx * sy) * 10000
                     // (CAST(m * sxx - sx * sx AS HUGEINT)
                        * (m * syy - sy * sy)) AS BIGINT)
                END AS BIGINT) AS r2_bp,
           CAST(CASE WHEN (m * sxy - sx * sy) > 0
                      AND (m * sxx - sx * sx) > 0
                      AND (m * syy - sy * sy) > 0
                      AND CAST(m * sxy - sx * sy AS HUGEINT)
                          * (m * sxy - sx * sy) * 10000
                          // (CAST(m * sxx - sx * sx AS HUGEINT)
                             * (m * syy - sy * sy)) >= 2500
                THEN 1 ELSE 0 END AS INT) AS is_weekly
    FROM m
    """,
)
def q_weekly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly periodicity via lag-7 autocorrelation, entirely in
    integers — the single-pass identities (m·Σxy − ΣxΣy over the
    m overlapping day pairs, same for both variances) avoid any
    floating mean, and r² lands in basis points through one 128-bit
    widening (the covariance square reaches ~10^24 at sf0.1). A series
    is flagged weekly when the lag-7 correlation is POSITIVE with
    r² >= 0.25 — the recrawl scheduler's cue to fit day-of-week rates
    before alarming. LEAD(7) over the tiny daily grain; the scan work
    is the shared (type, day) partial count."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    lagged = daily.select(
        "event_type", F.col("cnt").alias("x"),
        F.lead("cnt", 7).over(
            Window.partitionBy("event_type").orderBy("day")).alias("y"))
    p = lagged.filter(F.col("y").isNotNull())
    m = (p.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("bigint").alias("m"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum("y").cast("bigint").alias("sy"),
              F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
              F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
         .filter(F.col("m") >= 3))
    r2 = ("CASE WHEN (m * sxx - sx * sx) = 0"
          " OR (m * syy - sy * sy) = 0 THEN 0"
          " ELSE CAST(CAST(m * sxy - sx * sy AS DECIMAL(38,0))"
          " * (m * sxy - sx * sy) * 10000"
          " div (CAST(m * sxx - sx * sx AS DECIMAL(38,0))"
          " * (m * syy - sy * sy)) AS BIGINT) END")
    return m.select(
        "event_type", "m",
        F.expr("m * sxy - sx * sy").cast("bigint").alias("cov_num"),
        F.expr(r2).cast("bigint").alias("r2_bp"),
        (F.expr("m * sxy - sx * sy > 0")
         & F.expr("m * sxx - sx * sx > 0")
         & F.expr("m * syy - sy * sy > 0")
         & (F.expr(r2) >= 2500)).cast("int").alias("is_weekly"))


@query(
    "effective_sample_size",
    """
    WITH w AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS wt FROM documents),
    s AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(wt) AS BIGINT) AS sw,
             CAST(SUM(wt * wt) AS BIGINT) AS sww
      FROM w GROUP BY lang)
    SELECT lang, n, sw,
           CAST(sw * sw // GREATEST(sww, 1) AS BIGINT) AS ess,
           CAST(sw * sw // GREATEST(sww, 1) * 10000 // n AS BIGINT)
             AS ess_ratio_bp
    FROM s
    """,
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size per language — ESS = (Σw)²/Σw² tells
    you how many EQUAL documents your length-weighted sample is worth:
    a corpus where one mega-document carries half the weight has a
    tiny ESS however many rows it holds. The ratio against the raw
    count (10000 bp = perfectly balanced weights) is the skew alarm
    for sampling and mixture stages. One aggregate with map-side
    partials; all integer (the weight square sums stay under int64 at
    any realistic doc-length cap)."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sw"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint")
        .alias("sww"))
    return s.select(
        "lang", "n", "sw",
        F.expr("sw * sw div GREATEST(sww, 1)").cast("bigint")
        .alias("ess"),
        F.expr("sw * sw div GREATEST(sww, 1) * 10000 div n")
        .cast("bigint").alias("ess_ratio_bp"))


_SNIFF_TEXT = (
    ["name,age,city\nalice,30,berlin\nbob,25,paris\ncarl,41,rome"],
    ["id\tvalue\n1\t10\n2\t20"],
    ["a|b|c\n1|2|3\n4|5|6"],
    ["just a plain sentence without structure ", 3],
)
_SNIFF_TEXT_SQL = _docs_sql(_SNIFF_TEXT, "text")


_SNIFF_SQL = (
    "WITH u AS (" + _SNIFF_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc, text,
             list_min(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, ',', '')))) AS c_mn,
             list_max(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, ',', '')))) AS c_mx,
             list_min(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, chr(9), '')))) AS t_mn,
             list_max(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, chr(9), '')))) AS t_mx,
             list_min(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, '|', '')))) AS p_mn,
             list_max(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, '|', '')))) AS p_mx,
             CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_rows
      FROM u),
    pick AS (
      SELECT doc, text, n_rows,
             CASE WHEN c_mn = c_mx AND c_mn > 0 THEN 'comma'
                  WHEN t_mn = t_mx AND t_mn > 0 THEN 'tab'
                  WHEN p_mn = p_mx AND p_mn > 0 THEN 'pipe'
             END AS delim,
             CASE WHEN c_mn = c_mx AND c_mn > 0 THEN c_mn + 1
                  WHEN t_mn = t_mx AND t_mn > 0 THEN t_mn + 1
                  WHEN p_mn = p_mx AND p_mn > 0 THEN p_mn + 1
             END AS n_cols
      FROM m)
    SELECT doc, delim, CAST(n_cols AS BIGINT) AS n_cols, n_rows,
           CAST(CASE WHEN delim IS NOT NULL
                  AND len(regexp_extract_all(
                        string_split(text, chr(10))[1], '[0-9]')) = 0
                  AND len(regexp_extract_all(text, '[0-9]')) > 0
                THEN 1 ELSE 0 END AS INT) AS has_header
    FROM pick
    """
)


@query("delimiter_sniff", _SNIFF_SQL)
def q_delimiter_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimiter sniffing for embedded tabular text — a delimiter is
    accepted when EVERY line carries the same positive count of it
    (the consistency rule real CSV sniffers use), tried in fixed
    comma > tab > pipe priority; header detection flags a digit-free
    first line over digit-bearing data lines. Routes CSV/TSV payloads
    to a columnar parser instead of the prose pipeline. All in-row
    list arithmetic over the line split — zero shuffle."""
    docs = _docs(spark, sf_dir, _SNIFF_TEXT, "text")
    lines = F.split("text", "\n")

    def counts(d: str):
        per = F.transform(
            lines, lambda l: F.length(l)
            - F.length(F.replace(l, F.lit(d), F.lit(""))))
        return F.array_min(per), F.array_max(per)

    c_mn, c_mx = counts(",")
    t_mn, t_mx = counts("\t")
    p_mn, p_mx = counts("|")
    pick = docs.select(
        "doc", "text",
        F.size(lines).cast("bigint").alias("n_rows"),
        F.when((c_mn == c_mx) & (c_mn > 0), F.lit("comma"))
        .when((t_mn == t_mx) & (t_mn > 0), F.lit("tab"))
        .when((p_mn == p_mx) & (p_mn > 0), F.lit("pipe"))
        .alias("delim"),
        F.when((c_mn == c_mx) & (c_mn > 0), c_mn + 1)
        .when((t_mn == t_mx) & (t_mn > 0), t_mn + 1)
        .when((p_mn == p_mx) & (p_mn > 0), p_mn + 1)
        .cast("bigint").alias("n_cols"))
    hdr_digits = F.size(F.regexp_extract_all(
        F.element_at(F.split("text", "\n"), 1), F.lit("[0-9]"),
        F.lit(0)))
    all_digits = F.size(F.regexp_extract_all("text", F.lit("[0-9]"),
                                             F.lit(0)))
    return pick.select(
        "doc", "delim", "n_cols", "n_rows",
        (F.col("delim").isNotNull() & (hdr_digits == 0)
         & (all_digits > 0)).cast("int").alias("has_header"))


_UNIT_TEXT = (
    ["The trail is 5 km long segment ", 3],
    ["A 250 cm plank case ", 5],
    ["The file is 3 mb in size rev ", 3],
    ["Weight: 2 kg exactly lot ", 7],
    ["No measurements mentioned here at all ", 3],
)
_UNIT_TEXT_SQL = _docs_sql(_UNIT_TEXT, "text")

_UNIT_PAT = "\\b([0-9]+) (km|cm|mb|kg|kb|mm|m|g)\\b"

_UNIT_SQL = (
    "WITH u AS (" + _UNIT_TEXT_SQL + "),"
    """
    e AS (
      SELECT doc,
             CAST(nullif(regexp_extract(text,
               '\\b([0-9]+) (km|cm|mb|kg|kb|mm|m|g)\\b', 1), '')
               AS BIGINT) AS qty,
             nullif(regexp_extract(text,
               '\\b([0-9]+) (km|cm|mb|kg|kb|mm|m|g)\\b', 2), '')
               AS unit
      FROM u)
    SELECT doc, qty, unit,
           CAST(CASE unit
                WHEN 'km' THEN qty * 1000000
                WHEN 'm' THEN qty * 1000
                WHEN 'cm' THEN qty * 10
                WHEN 'mm' THEN qty
                WHEN 'kg' THEN qty * 1000
                WHEN 'g' THEN qty
                WHEN 'mb' THEN qty * 1048576
                WHEN 'kb' THEN qty * 1024
           END AS BIGINT) AS canonical,
           CASE WHEN unit IN ('km', 'm', 'cm', 'mm') THEN 'length_mm'
                WHEN unit IN ('kg', 'g') THEN 'mass_g'
                WHEN unit IN ('mb', 'kb') THEN 'bytes'
           END AS dimension
    FROM e
    """
)


@query("unit_normalize", _UNIT_SQL)
def q_unit_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measurement-unit normalization — '<n> <unit>' mentions resolve
    to a canonical integer base (mm / g / bytes) with their dimension
    tag, the cleanup that makes quantities comparable across documents
    (entity linking, fact extraction, spec dedup all consume this).
    Longest-alternative-first regex so '5 km' never half-matches as
    'm'; no-measurement documents yield NULLs. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _UNIT_TEXT, "text")
    qty = F.nullif(F.regexp_extract("text", _UNIT_PAT, 1),
                   F.lit("")).cast("bigint")
    unit = F.nullif(F.regexp_extract("text", _UNIT_PAT, 2), F.lit(""))
    e = docs.select("doc", qty.alias("qty"), unit.alias("unit"))
    canonical = (
        F.when(F.col("unit") == "km", F.col("qty") * 1000000)
        .when(F.col("unit") == "m", F.col("qty") * 1000)
        .when(F.col("unit") == "cm", F.col("qty") * 10)
        .when(F.col("unit") == "mm", F.col("qty"))
        .when(F.col("unit") == "kg", F.col("qty") * 1000)
        .when(F.col("unit") == "g", F.col("qty"))
        .when(F.col("unit") == "mb", F.col("qty") * 1048576)
        .when(F.col("unit") == "kb", F.col("qty") * 1024))
    dim = (
        F.when(F.col("unit").isin("km", "m", "cm", "mm"),
               F.lit("length_mm"))
        .when(F.col("unit").isin("kg", "g"), F.lit("mass_g"))
        .when(F.col("unit").isin("mb", "kb"), F.lit("bytes")))
    return e.select(
        "doc", "qty", "unit",
        canonical.cast("bigint").alias("canonical"),
        dim.alias("dimension"))


@query(
    "funnel_subsequence",
    """
    WITH cnts AS (
      SELECT event_type, COUNT(*) AS cnt FROM events
      GROUP BY event_type),
    top3 AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, event_type) AS step
      FROM cnts ORDER BY cnt DESC, event_type LIMIT 3),
    base AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events),
    ev2 AS (
      SELECT b.user_id, b.rn, t.step FROM base b
      JOIN top3 t ON b.event_type = t.event_type),
    u AS (SELECT DISTINCT user_id, n_events FROM base),
    p1 AS (SELECT user_id, MIN(rn) AS r1 FROM ev2 WHERE step = 1
           GROUP BY user_id),
    p2 AS (SELECT e.user_id, MIN(e.rn) AS r2 FROM ev2 e
           JOIN p1 ON e.user_id = p1.user_id
           WHERE e.step = 2 AND e.rn > p1.r1 GROUP BY e.user_id),
    p3 AS (SELECT e.user_id, MIN(e.rn) AS r3 FROM ev2 e
           JOIN p2 ON e.user_id = p2.user_id
           WHERE e.step = 3 AND e.rn > p2.r2 GROUP BY e.user_id)
    SELECT u.user_id, CAST(u.n_events AS BIGINT) AS n_events,
           CAST(CASE WHEN p3.r3 IS NOT NULL THEN 3
                     WHEN p2.r2 IS NOT NULL THEN 2
                     WHEN p1.r1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS steps_matched,
           CAST(CASE WHEN p3.r3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS completed
    FROM u LEFT JOIN p1 ON u.user_id = p1.user_id
    LEFT JOIN p2 ON u.user_id = p2.user_id
    LEFT JOIN p3 ON u.user_id = p3.user_id
    """,
)
def q_funnel_subsequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsequence funnel matching — how far does each user progress
    through the 3-step funnel IN ORDER but with arbitrary gaps (the
    loose-funnel semantics strict adjacent-step windows miss)? The
    funnel itself is data-derived: the three most common event types,
    rank-ordered (deterministic tie-break by name), broadcast as one
    row. Each user's event-type sequence maps to funnel indices
    in-row, and a single integer fold (advance on the next expected
    index, sentinel-initialized) yields the matched prefix length —
    the same exact-integer fold discipline as the EWMA baseline. One
    user-keyed shuffle for the sequence, one tiny aggregate for the
    funnel.

    The oracle twin deliberately uses a pure-relational min-index
    chain (ROW_NUMBER + three MIN-over-threshold joins) instead of
    mirroring the fold: DuckDB's list_reduce over a lambda that
    captures a cross-joined column returned a wrong result for one
    user in 1500 at sf0.1 (projection-dependent), so the oracle avoids
    list lambdas here entirely — and an independent formulation is a
    stronger check anyway."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("event_type"))
    top3 = (cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .agg(F.array_sort(F.collect_list(
                F.struct("rk", "event_type"))).alias("rs"))
            .select(F.transform("rs", lambda s: s["event_type"])
                    .alias("funnel")))
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"]).alias("types"))
    idx = seq.crossJoin(F.broadcast(top3)).select(
        "user_id",
        F.size("types").cast("bigint").alias("n_events"),
        F.transform(
            "types",
            lambda t: F.coalesce(F.array_position(F.col("funnel"), t),
                                 F.lit(0))).alias("steps"))
    m = idx.select(
        "user_id", "n_events",
        F.aggregate(
            "steps", F.lit(0).cast("bigint"),
            lambda a, x: F.when(x == a + 1, a + 1).otherwise(a))
        .cast("bigint").alias("steps_matched"))
    return m.select(
        "user_id", "n_events", "steps_matched",
        (F.col("steps_matched") >= 3).cast("int").alias("completed"))


@query(
    "largest_remainder_alloc",
    """
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
    base AS (
      SELECT c.lang, c.cnt,
             CAST(1000 * c.cnt // t.total AS BIGINT) AS base,
             CAST(1000 * c.cnt - (1000 * c.cnt // t.total) * t.total
                  AS BIGINT) AS rem
      FROM c CROSS JOIN t),
    lo AS (
      SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover FROM base),
    rk AS (
      SELECT lang, cnt, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
      FROM base)
    SELECT rk.lang, rk.cnt, rk.base,
           CAST(CASE WHEN rk.rk <= lo.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS extra,
           CAST(rk.base + CASE WHEN rk.rk <= lo.leftover THEN 1 ELSE 0
                          END AS BIGINT) AS alloc
    FROM rk CROSS JOIN lo
    """,
)
def q_largest_remainder_alloc(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment — split exactly 1000
    sampling slots across languages proportional to document counts:
    integer floor shares first, then the leftover slots go to the
    largest scaled remainders (deterministic tie-break by language).
    The allocation that guarantees BOTH exact total and at-most-1
    deviation from proportionality — what a mixture sampler actually
    needs (floats drift, rounding loses slots). Group counts + a
    1-row broadcast total + one window over the language grain."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    t = c.agg(F.sum("cnt").cast("bigint").alias("total"))
    base = c.crossJoin(F.broadcast(t)).select(
        "lang", "cnt",
        F.expr("1000 * cnt div total").cast("bigint").alias("base"),
        F.expr("1000 * cnt - (1000 * cnt div total) * total")
        .cast("bigint").alias("rem"))
    lo = base.agg((F.lit(1000) - F.sum("base")).cast("bigint")
                  .alias("leftover"))
    w = Window.orderBy(F.col("rem").desc(), F.col("lang"))
    rk = base.withColumn("rk", F.row_number().over(w))
    return rk.crossJoin(F.broadcast(lo)).select(
        "lang", "cnt", "base",
        (F.col("rk") <= F.col("leftover")).cast("bigint")
        .alias("extra"),
        (F.col("base")
         + (F.col("rk") <= F.col("leftover")).cast("bigint"))
        .cast("bigint").alias("alloc"))


@query(
    "capture_recapture",
    """
    SELECT
      CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0)
           AS BIGINT) AS n1,
      CAST(COALESCE(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 END), 0)
           AS BIGINT) AS n2,
      CAST(COALESCE(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 END), 0)
           AS BIGINT) AS overlap,
      CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0)
           * COALESCE(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 END), 0)
           // GREATEST(COALESCE(SUM(CASE WHEN doc_id % 6 = 0
                                    THEN 1 END), 0), 1) AS BIGINT)
        AS lp_estimate,
      CAST((COALESCE(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0) + 1)
           * (COALESCE(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 END), 0)
              + 1)
           // (COALESCE(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 END), 0)
               + 1) - 1 AS BIGINT) AS chapman_estimate,
      CAST(COUNT(*) AS BIGINT) AS true_n
    FROM documents
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation — two independent crawl
    samples (the even-id crawl and the every-third-id crawl) and their
    overlap give the Lincoln-Petersen estimate n1·n2/m of the TOTAL
    segment size, plus the bias-corrected Chapman variant — how crawl
    teams answer 'how big is this host really?' without fetching it
    all. The deterministic id-residue samples make the truth exactly
    recoverable for verification. One conditional aggregate over one
    scan, map-side partials only."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    cells = docs.agg(
        F.coalesce(F.sum(F.when(k % 2 == 0, 1)), F.lit(0))
        .cast("bigint").alias("n1"),
        F.coalesce(F.sum(F.when(k % 3 == 0, 1)), F.lit(0))
        .cast("bigint").alias("n2"),
        F.coalesce(F.sum(F.when(k % 6 == 0, 1)), F.lit(0))
        .cast("bigint").alias("overlap"),
        F.count(F.lit(1)).cast("bigint").alias("true_n"))
    return cells.select(
        "n1", "n2", "overlap",
        F.expr("n1 * n2 div GREATEST(overlap, 1)").cast("bigint")
        .alias("lp_estimate"),
        F.expr("(n1 + 1) * (n2 + 1) div (overlap + 1) - 1")
        .cast("bigint").alias("chapman_estimate"),
        "true_n")


@query(
    "diff_in_diff",
    """
    WITH e AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END
               AS grp,
             CASE WHEN day(ts) <= 15 THEN 'pre' ELSE 'post' END
               AS period,
             CAST(ts AS DATE) AS day
      FROM events),
    cells AS (
      SELECT grp, period,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM e GROUP BY grp, period),
    r AS (
      SELECT grp, period,
             CAST(n_events * 10000 // GREATEST(n_days, 1) AS BIGINT)
               AS rate_bp
      FROM cells),
    p AS (
      SELECT
        MAX(CASE WHEN grp = 'treat' AND period = 'pre'
            THEN rate_bp END) AS tp0,
        MAX(CASE WHEN grp = 'treat' AND period = 'post'
            THEN rate_bp END) AS tp1,
        MAX(CASE WHEN grp = 'control' AND period = 'pre'
            THEN rate_bp END) AS cp0,
        MAX(CASE WHEN grp = 'control' AND period = 'post'
            THEN rate_bp END) AS cp1
      FROM r)
    SELECT CAST(tp0 AS BIGINT) AS treat_pre_bp,
           CAST(tp1 AS BIGINT) AS treat_post_bp,
           CAST(cp0 AS BIGINT) AS control_pre_bp,
           CAST(cp1 AS BIGINT) AS control_post_bp,
           CAST((tp1 - tp0) - (cp1 - cp0) AS BIGINT) AS did_bp
    FROM p
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the treated group's pre/post
    daily-rate change minus the control group's, the standard guard
    against 'the metric rose after launch' claims that ignore seasonal
    drift both groups share. Deterministic assignment (user-hash
    parity) and calendar split (day of month); rates in exact
    events-per-day basis points. One 4-cell conditional aggregate +
    a 1-row pivot."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.col("user_id") % 2 == 0, "treat").otherwise("control")
        .alias("grp"),
        F.when(F.dayofmonth("ts") <= 15, "pre").otherwise("post")
        .alias("period"),
        F.to_date("ts").alias("day"))
    cells = e.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("day").cast("bigint").alias("n_days"))
    r = cells.select(
        "grp", "period",
        F.expr("n_events * 10000 div GREATEST(n_days, 1)")
        .cast("bigint").alias("rate_bp"))
    p = r.agg(
        F.max(F.when((F.col("grp") == "treat")
                     & (F.col("period") == "pre"),
                     F.col("rate_bp"))).alias("tp0"),
        F.max(F.when((F.col("grp") == "treat")
                     & (F.col("period") == "post"),
                     F.col("rate_bp"))).alias("tp1"),
        F.max(F.when((F.col("grp") == "control")
                     & (F.col("period") == "pre"),
                     F.col("rate_bp"))).alias("cp0"),
        F.max(F.when((F.col("grp") == "control")
                     & (F.col("period") == "post"),
                     F.col("rate_bp"))).alias("cp1"))
    return p.select(
        F.col("tp0").cast("bigint").alias("treat_pre_bp"),
        F.col("tp1").cast("bigint").alias("treat_post_bp"),
        F.col("cp0").cast("bigint").alias("control_pre_bp"),
        F.col("cp1").cast("bigint").alias("control_post_bp"),
        ((F.col("tp1") - F.col("tp0")) - (F.col("cp1") - F.col("cp0")))
        .cast("bigint").alias("did_bp"))


@query(
    "peer_percentile",
    """
    WITH c AS (
      SELECT o_orderkey, o_orderpriority AS priority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    r AS (
      SELECT o_orderkey, priority, cents,
             ROW_NUMBER() OVER (PARTITION BY priority
               ORDER BY cents, o_orderkey) AS rk,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM c)
    SELECT o_orderkey, priority, cents,
           CAST((rk - 1) * 10000 // GREATEST(n - 1, 1) AS BIGINT)
             AS pct_bp
    FROM r
    """,
)
def q_peer_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile rank among peers — every order's standing
    within its priority class in basis points (0 = cheapest peer,
    10000 = priciest), the per-row normalization that makes amounts
    comparable across groups with different scales (feature
    engineering for fraud/quality models). Deterministic dense
    ordering via (value, key) tie-break; (rank-1)/(n-1) so both
    endpoints are exact. One priority-partitioned window — same
    shuffle the MAD screen already pays. rank widens to BIGINT before
    the x10^4 scaling: Spark's row_number is 32-bit and the product
    overflows at >214k rows per group (ANSI error caught by the
    sf1-equivalent sweep; DuckDB's ROW_NUMBER is 64-bit already)."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("cents"))
    wp = Window.partitionBy("priority")
    r = c.select(
        "o_orderkey", "priority", "cents",
        F.row_number().over(wp.orderBy("cents", "o_orderkey"))
        .alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"))
    return r.select(
        "o_orderkey", "priority", "cents",
        F.expr("CAST(rk - 1 AS BIGINT) * 10000 div GREATEST(n - 1, 1)")
        .cast("bigint").alias("pct_bp"))


@query(
    "linear_attribution",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS is_conv
      FROM events),
    g AS (
      SELECT user_id, ts, event_id, event_type, is_conv,
             COALESCE(SUM(is_conv) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + 1 AS grp
      FROM e),
    counts AS (
      SELECT user_id, grp,
             CAST(COALESCE(SUM(CASE WHEN is_conv = 0 THEN 1 END), 0)
                  AS BIGINT) AS k,
             CAST(MAX(is_conv) AS BIGINT) AS has_conv
      FROM g GROUP BY user_id, grp),
    credited AS (
      SELECT g.event_type,
             CASE WHEN c.has_conv = 1 AND g.is_conv = 0
                  THEN 10000 // c.k
                  WHEN c.has_conv = 1 AND g.is_conv = 1 AND c.k = 0
                  THEN 10000
                  ELSE 0 END AS credit
      FROM g JOIN counts c
        ON g.user_id = c.user_id AND g.grp = c.grp)
    SELECT event_type,
           CAST(SUM(credit) AS BIGINT) AS credit_bp,
           CAST(COALESCE(SUM(CASE WHEN credit > 0 THEN 1 END), 0)
                AS BIGINT) AS n_credited
    FROM credited GROUP BY event_type
    """,
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each conversion's 10000 bp of
    credit splits equally across the touchpoints since the PREVIOUS
    conversion (the running-sum group trick assigns every touch to its
    next conversion in one window pass); a conversion with no
    preceding touches keeps its credit as 'direct'. Credit totals per
    channel (event type) are what marketing-mix dashboards aggregate.
    Trailing touches after the last conversion earn nothing —
    has_conv gates them. One user-keyed window + one group-keyed
    join, shuffles on user only. Integer division floors per-touch
    credit, so totals under-count by at most k-1 bp per conversion —
    deterministic in both engines."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "ts", "event_id", "event_type",
        (F.col("event_id") % 11 == 0).cast("int").alias("is_conv"))
    prev = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    g = e.select(
        "user_id", "event_type", "is_conv",
        (F.coalesce(F.sum("is_conv").over(prev), F.lit(0)) + 1)
        .alias("grp"))
    counts = g.groupBy("user_id", "grp").agg(
        F.coalesce(F.sum(F.when(F.col("is_conv") == 0, 1)), F.lit(0))
        .cast("bigint").alias("k"),
        F.max("is_conv").cast("bigint").alias("has_conv"))
    credited = g.join(counts, ["user_id", "grp"]).select(
        "event_type",
        F.when((F.col("has_conv") == 1) & (F.col("is_conv") == 0),
               F.expr("10000 div k"))
        .when((F.col("has_conv") == 1) & (F.col("is_conv") == 1)
              & (F.col("k") == 0), F.lit(10000))
        .otherwise(F.lit(0)).alias("credit"))
    return credited.groupBy("event_type").agg(
        F.sum("credit").cast("bigint").alias("credit_bp"),
        F.coalesce(F.sum(F.when(F.col("credit") > 0, 1)), F.lit(0))
        .cast("bigint").alias("n_credited"))


@query(
    "skyline_orders",
    """
    WITH c AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate
      FROM orders),
    r AS (
      SELECT o_orderkey, cents, o_orderdate,
             MIN(o_orderdate) OVER (
               ORDER BY cents, o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_date_so_far
      FROM c)
    SELECT o_orderkey, cents,
           CAST(o_orderdate AS VARCHAR) AS order_date
    FROM r
    WHERE best_date_so_far IS NULL
       OR o_orderdate < best_date_so_far
    """,
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) — the orders no other order beats
    on BOTH price and date (cheaper AND earlier): the multi-criteria
    shortlist query optimizers treat as hard, solved with ONE sorted
    window pass — sort by price ascending, keep a row iff its date
    beats the running minimum date of everything cheaper (sorted-scan
    dominance: anything earlier in the sort is no more expensive, so
    only the date needs checking). Equal-price ties resolve by the
    (cents, date, key) sort: the cheapest-earliest survives and its
    equal-price twins are dominated. The global window is the
    documented single-partition caveat; at scale the same pass runs
    range-partitioned by price with per-partition running minima
    merged once."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("cents"),
        "o_orderdate")
    prev = (Window.orderBy("cents", "o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, -1))
    r = c.select(
        "o_orderkey", "cents", "o_orderdate",
        F.min("o_orderdate").over(prev).alias("best_date_so_far"))
    return r.filter(
        F.col("best_date_so_far").isNull()
        | (F.col("o_orderdate") < F.col("best_date_so_far"))).select(
        "o_orderkey", "cents",
        F.col("o_orderdate").cast("string").alias("order_date"))


@query(
    "cohens_kappa",
    f"""
    WITH lab AS (
      SELECT {case_sql('doc_id', _LABEL)} AS a,
             {case_sql('doc_id', _PREDICTED)} AS b
      FROM documents),
    conf AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY a, b),
    marg AS (
      SELECT
        CAST(SUM(n) AS BIGINT) AS total,
        CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT)
          AS agree
      FROM conf),
    rows_m AS (SELECT a AS cls, CAST(SUM(n) AS BIGINT) AS ra
               FROM conf GROUP BY a),
    cols_m AS (SELECT b AS cls, CAST(SUM(n) AS BIGINT) AS cb
               FROM conf GROUP BY b),
    chance AS (
      SELECT CAST(SUM(r.ra * c.cb) AS BIGINT) AS exp_num
      FROM rows_m r JOIN cols_m c ON r.cls = c.cls)
    SELECT m.total, m.agree,
           CAST(m.agree * 10000 // m.total AS BIGINT) AS po_bp,
           CAST(ch.exp_num * 10000 // (m.total * m.total) AS BIGINT)
             AS pe_bp,
           CAST((m.agree * 10000 // m.total
                 - ch.exp_num * 10000 // (m.total * m.total)) * 10000
                // GREATEST(10000 - ch.exp_num * 10000
                            // (m.total * m.total), 1) AS BIGINT)
             AS kappa_bp
    FROM marg m CROSS JOIN chance ch
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic labelers — observed
    agreement corrected for the agreement two independent annotators
    would reach by chance (the marginal-product expectation), the
    standard inter-annotator metric before trusting any labeled
    corpus. All in exact basis points: po and pe truncate identically
    in both engines, kappa = (po-pe)/(1-pe) in a second fixed-point
    step. One confusion-matrix scan; marginals and the chance term
    come from the TINY matrix, never a second pass."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    lab = docs.select(case_col(k, _LABEL).alias("a"),
                      case_col(k, _PREDICTED).alias("b"))
    conf = lab.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    marg = conf.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.coalesce(F.sum(F.when(F.col("a") == F.col("b"),
                                F.col("n"))), F.lit(0))
        .cast("bigint").alias("agree"))
    rows_m = conf.groupBy(F.col("a").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("ra"))
    cols_m = conf.groupBy(F.col("b").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("cb"))
    chance = rows_m.join(cols_m, "cls").agg(
        F.sum(F.col("ra") * F.col("cb")).cast("bigint")
        .alias("exp_num"))
    j = marg.crossJoin(F.broadcast(chance))
    return j.select(
        "total", "agree",
        F.expr("agree * 10000 div total").cast("bigint").alias("po_bp"),
        F.expr("exp_num * 10000 div (total * total)").cast("bigint")
        .alias("pe_bp"),
        F.expr("(agree * 10000 div total"
               " - exp_num * 10000 div (total * total)) * 10000"
               " div GREATEST(10000 - exp_num * 10000"
               " div (total * total), 1)")
        .cast("bigint").alias("kappa_bp"))


@query(
    "decision_stump",
    """
    WITH lab AS (
      SELECT CAST(n_chars AS BIGINT) AS f,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS pos
      FROM documents),
    agg AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS np
      FROM lab GROUP BY f),
    cum AS (
      SELECT f,
             SUM(cnt) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_l,
             SUM(np) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS p_l,
             SUM(cnt) OVER () AS n,
             SUM(np) OVER () AS p
      FROM agg),
    cand AS (
      SELECT f AS threshold, n_l, n - n_l AS n_r,
             2 * p_l * (n_l - p_l) * 10000 // n_l
             + 2 * (p - p_l) * ((n - n_l) - (p - p_l)) * 10000
               // (n - n_l) AS cost_bp
      FROM cum WHERE n_l < n),
    best AS (
      SELECT min({'c': cost_bp, 't': threshold}) AS b FROM cand)
    SELECT CAST((best.b).t AS BIGINT) AS threshold,
           CAST((best.b).c AS BIGINT) AS gini_cost_bp,
           CAST(c.n_l AS BIGINT) AS n_left,
           CAST(c.n_r AS BIGINT) AS n_right
    FROM best JOIN cand c ON c.threshold = (best.b).t
    """,
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training in one window pass — the best
    single-feature threshold split (feature <= t vs > t) by weighted
    Gini impurity, the building block of every tree ensemble. Distinct
    feature values aggregate first (class counts per value), one
    ordered window yields cumulative class counts at every candidate
    threshold simultaneously, and the weighted impurity 2·p·q/n per
    side lands in fixed-point bp (identical truncation both engines);
    the argmin is a struct-MIN with threshold tie-break. At 10^12 rows
    the same plan holds: the window runs over DISTINCT FEATURE VALUES
    (histogram grain), not documents."""
    docs = _t(spark, sf_dir, "documents")
    lab = docs.select(
        F.col("n_chars").cast("bigint").alias("f"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("pos"))
    agg = lab.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.coalesce(F.sum("pos"), F.lit(0)).cast("bigint").alias("np"))
    run = (Window.orderBy("f")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    full = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = agg.select(
        "f",
        F.sum("cnt").over(run).alias("n_l"),
        F.sum("np").over(run).alias("p_l"),
        F.sum("cnt").over(full).alias("n"),
        F.sum("np").over(full).alias("p"))
    cand = cum.filter(F.col("n_l") < F.col("n")).select(
        F.col("f").alias("threshold"), "n_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        F.expr("2 * p_l * (n_l - p_l) * 10000 div n_l"
               " + 2 * (p - p_l) * ((n - n_l) - (p - p_l)) * 10000"
               " div (n - n_l)").alias("cost_bp"))
    best = cand.agg(F.min(F.struct(
        F.col("cost_bp").alias("c"),
        F.col("threshold").alias("t"))).alias("b"))
    joined = cand.join(
        F.broadcast(best),
        cand.threshold == F.col("b.t"))
    return joined.select(
        F.col("b.t").cast("bigint").alias("threshold"),
        F.col("b.c").cast("bigint").alias("gini_cost_bp"),
        F.col("n_l").cast("bigint").alias("n_left"),
        F.col("n_r").cast("bigint").alias("n_right"))


_ENTCO_TEXT = (
    ["Alice met Bob in Paris while Bob visited Carol ", 5],
    ["Paris and Berlin signed the accord with Alice ", 3],
    ["the quick brown fox ignored everyone ", 7],
)
_ENTCO_TEXT_SQL = _docs_sql(_ENTCO_TEXT, "text")

_ENTCO_SQL = (
    "WITH u AS (" + _ENTCO_TEXT_SQL + "),"
    """
    ents AS (
      SELECT doc, unnest(list_distinct(regexp_extract_all(text,
               '\\b[A-Z][a-z]+\\b'))) AS e
      FROM u),
    pairs AS (
      SELECT x.e AS e1, y.e AS e2
      FROM ents x JOIN ents y ON x.doc = y.doc AND x.e < y.e)
    SELECT e1, e2, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY e1, e2 HAVING COUNT(*) >= 2
    """
)


@query("entity_cooccurrence", _ENTCO_SQL)
def q_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence edges — capitalized-token entities that
    appear in the SAME document form an edge, support-counted across
    the corpus: the cheap knowledge-graph seed (who appears with whom)
    entity-linking pipelines bootstrap from. Spark-first shape: each
    doc's sorted distinct entity set emits its pairs IN-ROW (the same
    index-aware transform+slice as audience_overlap — fan-out bounded
    by entities-per-doc, never a corpus self-join), then one pair-keyed
    count with a support floor. The oracle twin runs the doc-keyed
    self-join."""
    docs = _docs(spark, sf_dir, _ENTCO_TEXT, "text")
    ents = F.array_sort(F.array_distinct(F.regexp_extract_all(
        "text", F.lit(r"\b[A-Z][a-z]+\b"), F.lit(0))))
    arr = docs.select("doc", ents.alias("ents"))
    pairs = arr.select(F.explode(F.flatten(F.transform(
        "ents",
        lambda x, i: F.transform(
            F.slice(F.col("ents"), i + 2, F.size(F.col("ents"))),
            lambda y: F.struct(x.alias("e1"), y.alias("e2")))))
    ).alias("p")).select("p.e1", "p.e2")
    return (pairs.groupBy("e1", "e2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
            .filter(F.col("support") >= 2))


_SOURCE = (["crm"], ["web"], ["import"])


@query(
    "survivorship_merge",
    f"""
    WITH rec AS (
      SELECT doc_id % 50 AS entity,
             {case_sql('doc_id', _SOURCE)} AS source,
             CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
               AS prio,
             doc_id AS k,
             CASE WHEN doc_id % 4 <> 0 THEN
               'N' || CAST(doc_id % 50 AS VARCHAR) || '_'
               || {case_sql('doc_id', _SOURCE)}
             END AS name,
             CASE WHEN doc_id % 5 <> 0 THEN
               'e' || CAST(doc_id AS VARCHAR) || '@x'
             END AS email,
             doc_id % 30 AS updated_day
      FROM documents),
    g AS (
      SELECT entity,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             min(CASE WHEN name IS NOT NULL
                 THEN {{'p': prio, 'k': k, 'v': name, 's': source}} END)
               AS nb,
             max(CASE WHEN email IS NOT NULL
                 THEN {{'d': updated_day, 'k': k, 'v': email}} END)
               AS eb
      FROM rec GROUP BY entity)
    SELECT CAST(entity AS BIGINT) AS entity, n_records,
           (nb).v AS best_name, (nb).s AS best_name_src,
           (eb).v AS newest_email
    FROM g
    """,
)
def q_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — merge an entity's records from
    three sources under per-field rules: NAME from the highest-
    priority source that has one (crm > web > import, struct-MIN on
    (priority, key)), EMAIL from the most recently updated record that
    has one (struct-MAX on (day, key)) — the master-data-management
    merge every customer/host registry runs. Conditional struct
    aggregates ignore records missing the field, so the winner per
    field can come from DIFFERENT records; one entity-keyed aggregate
    with map-side partials, no window, no self-join."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    src = case_col(k, _SOURCE)
    prio = (F.when(k % 3 == 0, 1).when(k % 3 == 1, 2).otherwise(3))
    name = F.when(
        k % 4 != 0,
        F.concat(F.lit("N"), (k % 50).cast("string"), F.lit("_"), src))
    email = F.when(
        k % 5 != 0, F.concat(F.lit("e"), k.cast("string"), F.lit("@x")))
    rec = docs.select(
        (k % 50).alias("entity"), src.alias("source"),
        prio.alias("prio"), k.alias("k"), name.alias("name"),
        email.alias("email"), (k % 30).alias("updated_day"))
    g = rec.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.min(F.when(F.col("name").isNotNull(), F.struct(
            F.col("prio").alias("p"), F.col("k").alias("k"),
            F.col("name").alias("v"), F.col("source").alias("s"))))
        .alias("nb"),
        F.max(F.when(F.col("email").isNotNull(), F.struct(
            F.col("updated_day").alias("d"), F.col("k").alias("k"),
            F.col("email").alias("v")))).alias("eb"))
    return g.select(
        F.col("entity").cast("bigint").alias("entity"), "n_records",
        F.col("nb.v").alias("best_name"),
        F.col("nb.s").alias("best_name_src"),
        F.col("eb.v").alias("newest_email"))


# cluster key is doc_id // 250, NOT doc_id % 20: a fixed cluster count
# grows every token bucket linearly with the corpus, so prefix-candidate
# generation goes quadratic — the sf1-equivalent sweep timed the Spark
# side out at 10x under the modulo key. Dividing bounds docs-per-cluster
# (and thus every prefix-token bucket) at 250 forever; corpus growth
# adds clusters, which is how real template/site near-dup groups scale.
_PFJ_TOKENS_SQL = """
    SELECT doc_id AS doc,
           list_sort(list_distinct(
             list_append(
               list_filter(
                 list_transform(range(0, 8),
                   j -> 'c' || CAST(doc_id // 250 AS VARCHAR) || '_'
                        || CAST(j AS VARCHAR)),
                 t -> t <> 'c' || CAST(doc_id // 250 AS VARCHAR) || '_'
                      || CAST((doc_id // 20) % 4 AS VARCHAR)),
               'x' || CAST(doc_id % 7 AS VARCHAR)))) AS toks
    FROM documents
"""

_PFJ_SQL = (
    "WITH t AS (" + _PFJ_TOKENS_SQL + ")"
    """
    SELECT a.doc AS d1, b.doc AS d2,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
             AS inter,
           CAST(len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks)) AS BIGINT)
             AS union_sz,
           CAST(len(list_intersect(a.toks, b.toks)) * 10000
                // (len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks))) AS BIGINT)
             AS jaccard_bp
    FROM t a JOIN t b ON a.doc < b.doc
    WHERE len(list_intersect(a.toks, b.toks)) * 10000
          >= 6000 * (len(a.toks) + len(b.toks)
                     - len(list_intersect(a.toks, b.toks)))
    """
)


@query("prefix_filter_join", _PFJ_SQL)
def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family) — every doc pair with token-set Jaccard >= 0.6,
    with a no-false-negative GUARANTEE (unlike MinHash/LSH): two sets
    with Jaccard >= t must share a token within each other's first
    |s| - ceil(t|s|) + 1 tokens under a shared global order, so
    candidate generation explodes only that prefix (rarest-first
    ordering keeps prefix-token buckets small) and an id-keyed join
    verifies candidates exactly. The oracle twin is the BRUTE-FORCE
    all-pairs join — equality of outputs is precisely the
    completeness guarantee. Shuffles: one vocab count, one
    prefix-token-keyed pair generation, two id-keyed verify joins;
    never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    # div-250 cluster key, see _PFJ_TOKENS_SQL: bounded token buckets
    cluster = F.expr("CAST(doc_id AS BIGINT) div 250").cast("string")
    dropped = F.concat(F.lit("c"), cluster, F.lit("_"),
                       (F.expr("doc_id div 20") % 4).cast("string"))
    toks = F.array_sort(F.array_distinct(F.array_append(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: F.concat(F.lit("c"), cluster, F.lit("_"),
                                   j.cast("string"))),
            lambda t: t != dropped),
        F.concat(F.lit("x"), (k % 7).cast("string")))))
    t = docs.select(k.alias("doc"), toks.alias("toks"))

    # global rarest-first token order
    vocab = (t.select(F.explode("toks").alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("freq")))
    ranked = vocab.select(
        "tok",
        F.row_number().over(Window.orderBy("freq", "tok"))
        .alias("rank"))
    # per-doc tokens sorted by global rank; prefix len = n-ceil(.6n)+1
    ordered = (t.select("doc", F.explode("toks").alias("tok"))
               .join(F.broadcast(ranked), "tok")
               .groupBy("doc")
               .agg(F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("rank", "tok"))),
                   lambda s: s["tok"]).alias("otoks")))
    pref = ordered.select(
        "doc", "otoks",
        F.expr("slice(otoks, 1, size(otoks)"
               " - (6 * size(otoks) + 9) div 10 + 1)").alias("prefix"))
    cand = (pref.select("doc", F.explode("prefix").alias("tok"))
            .alias("a")
            .join(pref.select(F.col("doc").alias("doc2"),
                              F.explode("prefix").alias("tok"))
                  .alias("b"), "tok")
            .filter(F.col("doc") < F.col("doc2"))
            .select(F.col("doc").alias("d1"),
                    F.col("doc2").alias("d2")).distinct())
    sides = t.select(F.col("doc").alias("d1"),
                     F.col("toks").alias("ta"))
    sides2 = t.select(F.col("doc").alias("d2"),
                      F.col("toks").alias("tb"))
    verified = (cand.join(sides, "d1").join(sides2, "d2")
                .select(
                    "d1", "d2",
                    F.size(F.array_intersect("ta", "tb"))
                    .cast("bigint").alias("inter"),
                    (F.size("ta") + F.size("tb")
                     - F.size(F.array_intersect("ta", "tb")))
                    .cast("bigint").alias("union_sz")))
    return (verified
            .filter(F.col("inter") * 10000 >= 6000 * F.col("union_sz"))
            .select("d1", "d2", "inter", "union_sz",
                    F.expr("inter * 10000 div union_sz").cast("bigint")
                    .alias("jaccard_bp")))


@query(
    "independence_chi2",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY lang, source),
    rm AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o
           GROUP BY lang),
    cm AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o
           GROUP BY source),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
    SELECT o.lang, o.source, o.obs,
           CAST(rm.r * cm.c * 10000 // t.n AS BIGINT) AS exp_x10000,
           CAST(CAST(o.obs * t.n - rm.r * cm.c AS HUGEINT)
                * (o.obs * t.n - rm.r * cm.c) * 10000
                // (CAST(t.n AS HUGEINT) * rm.r * cm.c) AS BIGINT)
             AS chi2_contrib_x10000
    FROM o JOIN rm ON o.lang = rm.lang
    JOIN cm ON o.source = cm.source
    CROSS JOIN t
    """,
)
def q_independence_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for language x source — is the
    corpus's language mix the same across sources, or does a feed skew
    (the sampling-bias audit run before per-source quotas are
    trusted)? Each cell reports its observed count, expected count
    (x10000 fixed point), and exact-integer chi-square contribution —
    (o·n − r·c)² / (n·r·c), widened to 128 bits because the cross
    term squares past int64 at sf1. One (lang, source) aggregate;
    margins are tiny broadcast joins back onto the cell grid."""
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs"))
    rm = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    cm = o.groupBy("source").agg(
        F.sum("obs").cast("bigint").alias("c"))
    t = o.agg(F.sum("obs").cast("bigint").alias("n"))
    j = (o.join(F.broadcast(rm), "lang")
         .join(F.broadcast(cm), "source")
         .crossJoin(F.broadcast(t)))
    return j.select(
        "lang", "source", "obs",
        F.expr("r * c * 10000 div n").cast("bigint")
        .alias("exp_x10000"),
        F.expr("CAST(obs * n - r * c AS DECIMAL(38,0))"
               " * (obs * n - r * c) * 10000"
               " div (CAST(n AS DECIMAL(38,0)) * r * c)")
        .cast("bigint").alias("chi2_contrib_x10000"))


@query(
    "decayed_leaderboard",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    mx AS (SELECT MAX(day) AS max_day FROM daily),
    sc AS (
      SELECT d.event_type,
             CAST(SUM(d.cnt) AS BIGINT) AS raw_total,
             CAST(SUM(d.cnt // CAST(power(2,
                  LEAST(date_diff('day', d.day, m.max_day) // 7, 20))
                  AS BIGINT)) AS BIGINT) AS decayed_score
      FROM daily d CROSS JOIN mx m GROUP BY d.event_type)
    SELECT event_type, raw_total, decayed_score,
           CAST(ROW_NUMBER() OVER (ORDER BY raw_total DESC, event_type)
                AS BIGINT) AS rank_raw,
           CAST(ROW_NUMBER() OVER (ORDER BY decayed_score DESC,
                event_type) AS BIGINT) AS rank_decayed
    FROM sc
    """,
)
def q_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed trending leaderboard — each day's count is
    halved per week of age (integer floor division by an exact power
    of two, so both engines agree bit-for-bit; exponent capped so the
    power stays exactly representable), which surfaces what is rising
    NOW over what was merely big once. Raw and decayed ranks together
    expose the reorder — the trending-detection primitive. The decay
    aggregates over the tiny (type, day) grain against a 1-row
    broadcast anchor day."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    mx = daily.agg(F.max("day").alias("max_day"))
    sc = (daily.crossJoin(F.broadcast(mx))
          .groupBy("event_type")
          .agg(
              F.sum("cnt").cast("bigint").alias("raw_total"),
              F.sum(F.expr(
                  "cnt div CAST(power(2, LEAST("
                  "datediff(max_day, day) div 7, 20)) AS BIGINT)"))
              .cast("bigint").alias("decayed_score")))
    return sc.select(
        "event_type", "raw_total", "decayed_score",
        F.row_number().over(
            Window.orderBy(F.col("raw_total").desc(), "event_type"))
        .cast("bigint").alias("rank_raw"),
        F.row_number().over(
            Window.orderBy(F.col("decayed_score").desc(), "event_type"))
        .cast("bigint").alias("rank_decayed"))


@query(
    "seasonal_anomaly",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, isodow(ts) AS dow,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY CAST(ts AS DATE), isodow(ts)),
    dowstat AS (
      SELECT dow, CAST(SUM(cnt) AS BIGINT) AS de,
             CAST(COUNT(*) AS BIGINT) AS dd
      FROM daily GROUP BY dow)
    SELECT CAST(d.day AS VARCHAR) AS day, d.dow, d.cnt,
           CAST(s.de // s.dd AS BIGINT) AS expected,
           CAST((d.cnt * s.dd - s.de) * 10000 // s.de AS BIGINT)
             AS resid_bp,
           CAST(CASE WHEN abs((d.cnt * s.dd - s.de) * 10000 // s.de)
                       >= 5000
                THEN 1 ELSE 0 END AS INT) AS is_anomalous
    FROM daily d JOIN dowstat s ON d.dow = s.dow
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted daily anomaly — each day's event count
    against the average for ITS weekday, so a quiet Saturday never
    pages anyone and a quiet Tuesday does (the failure mode of the
    plain EWMA threshold). The residual ratio (cnt·dd − de)/de stays
    in exact integers by cross-multiplying instead of dividing the
    expectation first; |residual| >= 50% flags. The weekday profile is
    a 7-row broadcast back onto the daily grain."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    dowstat = daily.groupBy("dow").agg(
        F.sum("cnt").cast("bigint").alias("de"),
        F.count(F.lit(1)).cast("bigint").alias("dd"))
    j = daily.join(F.broadcast(dowstat), "dow")
    return j.select(
        F.col("day").cast("string").alias("day"), "dow", "cnt",
        F.expr("de div dd").cast("bigint").alias("expected"),
        F.expr("(cnt * dd - de) * 10000 div de").cast("bigint")
        .alias("resid_bp"),
        (F.abs(F.expr("(cnt * dd - de) * 10000 div de")) >= 5000)
        .cast("int").alias("is_anomalous"))


@query(
    "rolling_wau",
    """
    WITH ed AS (
      SELECT DISTINCT CAST(ts AS DATE) AS eday, user_id FROM events),
    grid AS (SELECT DISTINCT eday AS day FROM ed),
    contrib AS (
      SELECT g.day, e.user_id
      FROM grid g JOIN ed e
        ON e.eday <= g.day AND e.eday >= g.day - 6)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib GROUP BY day
    """,
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — THE product-health metric,
    and a distinct-count-in-sliding-window problem that plain window
    frames cannot express (COUNT(DISTINCT) OVER RANGE is unsupported).
    Spark-first shape: each (user, day) activity row fans out to the
    <=7 report days it supports via a FIXED offset explosion — bounded
    fan-out, no day-grid join — then one (day)-keyed distinct count.
    The oracle twin runs the banded grid join; at 10^12 events the
    exact distinct swaps for the HLL-register variant this repo
    already ships (hll_merge_daily) with this query as its
    correctness anchor."""
    ev = _t(spark, sf_dir, "events")
    ed = ev.select(F.to_date("ts").alias("eday"), "user_id").distinct()
    grid = ed.select(F.col("eday").alias("day")).distinct()
    contrib = (ed.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "eday")
        .select("user_id",
                F.date_add("eday", F.col("off")).alias("day")))
    valid = contrib.join(F.broadcast(grid), "day")
    return valid.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau"))


@query(
    "syndicated_paths",
    """
    WITH u AS (
      SELECT 'h' || CAST(doc_id % 17 AS VARCHAR) AS host,
             '/p/' || CAST(doc_id % 23 AS VARCHAR) AS path
      FROM documents)
    SELECT path,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN COUNT(DISTINCT host) >= 3 THEN 1 ELSE 0 END
                AS INT) AS syndicated
    FROM u GROUP BY path HAVING COUNT(*) >= 2
    """,
)
def q_syndicated_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndicated-path detection — the same URL path appearing on many
    DISTINCT hosts is the signature of wire-service syndication and
    mirror networks (same CMS template, same slug), a cheaper prefilter
    than content dedup because it runs on the URL table alone. One
    path-keyed aggregate with a distinct-host count; >=3 hosts flags
    syndication."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    u = docs.select(
        F.concat(F.lit("h"), (k % 17).cast("string")).alias("host"),
        F.concat(F.lit("/p/"), (k % 23).cast("string")).alias("path"))
    return (u.groupBy("path")
            .agg(F.countDistinct("host").cast("bigint")
                 .alias("n_hosts"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .filter(F.col("n_docs") >= 2)
            .select("path", "n_hosts", "n_docs",
                    (F.col("n_hosts") >= 3).cast("int")
                    .alias("syndicated")))


@query(
    "simpsons_paradox",
    """
    WITH lab AS (
      SELECT o_orderkey % 2 AS variant,
             CASE WHEN ((o_orderkey // 2) % 10)
                  < CASE WHEN o_orderkey % 2 = 0 THEN 8 ELSE 2 END
             THEN 'hi' ELSE 'lo' END AS seg,
             CASE WHEN (o_orderkey % 10)
                  < CASE WHEN o_orderkey % 2 = 0 THEN
                      CASE WHEN ((o_orderkey // 2) % 10) < 8
                           THEN 8 ELSE 2 END
                    ELSE
                      CASE WHEN ((o_orderkey // 2) % 10) < 2
                           THEN 9 ELSE 3 END
                    END
             THEN 1 ELSE 0 END AS success
      FROM orders),
    cells AS (
      SELECT variant, seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(success), 0) AS BIGINT) AS s
      FROM lab GROUP BY variant, seg),
    p AS (
      SELECT
        MAX(CASE WHEN variant = 0 AND seg = 'hi'
            THEN s * 10000 // n END) AS v0_hi,
        MAX(CASE WHEN variant = 1 AND seg = 'hi'
            THEN s * 10000 // n END) AS v1_hi,
        MAX(CASE WHEN variant = 0 AND seg = 'lo'
            THEN s * 10000 // n END) AS v0_lo,
        MAX(CASE WHEN variant = 1 AND seg = 'lo'
            THEN s * 10000 // n END) AS v1_lo,
        CAST(COALESCE(SUM(CASE WHEN variant = 0 THEN s END), 0)
             * 10000 // SUM(CASE WHEN variant = 0 THEN n END)
             AS BIGINT) AS v0_pooled,
        CAST(COALESCE(SUM(CASE WHEN variant = 1 THEN s END), 0)
             * 10000 // SUM(CASE WHEN variant = 1 THEN n END)
             AS BIGINT) AS v1_pooled
      FROM cells)
    SELECT CAST(v0_hi AS BIGINT) AS v0_hi_bp,
           CAST(v1_hi AS BIGINT) AS v1_hi_bp,
           CAST(v0_lo AS BIGINT) AS v0_lo_bp,
           CAST(v1_lo AS BIGINT) AS v1_lo_bp,
           v0_pooled AS v0_pooled_bp, v1_pooled AS v1_pooled_bp,
           CAST(CASE WHEN v1_hi > v0_hi AND v1_lo > v0_lo
                      AND v1_pooled < v0_pooled
                THEN 1 ELSE 0 END AS INT) AS reversed
    FROM p
    """,
)
def q_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit — a variant that wins INSIDE every
    segment but loses pooled, because segment mix correlates with
    assignment (variant 0 concentrates in the high-base-rate segment).
    The construction plants exactly that: within-segment success
    thresholds favor variant 1 (9>8, 3>2) while variant 0 gets 80%
    'hi' mix vs 20%. Any experiment dashboard needs this check before
    reporting pooled rates; the reversed flag is the alarm. One
    4-cell conditional aggregate + a 1-row pivot, all exact bp."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    variant = (k % 2).alias("variant")
    mix = (k / 2).cast("bigint") % 10
    seg = F.when(
        mix < F.when(k % 2 == 0, 8).otherwise(2), "hi").otherwise("lo")
    thr = (F.when(k % 2 == 0,
                  F.when(mix < 8, 8).otherwise(2))
           .otherwise(F.when(mix < 2, 9).otherwise(3)))
    lab = orders.select(
        variant, seg.alias("seg"),
        ((k % 10) < thr).cast("int").alias("success"))
    cells = lab.groupBy("variant", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("success"), F.lit(0)).cast("bigint")
        .alias("s"))
    p = cells.agg(
        F.max(F.when((F.col("variant") == 0) & (F.col("seg") == "hi"),
                     F.expr("s * 10000 div n"))).alias("v0_hi"),
        F.max(F.when((F.col("variant") == 1) & (F.col("seg") == "hi"),
                     F.expr("s * 10000 div n"))).alias("v1_hi"),
        F.max(F.when((F.col("variant") == 0) & (F.col("seg") == "lo"),
                     F.expr("s * 10000 div n"))).alias("v0_lo"),
        F.max(F.when((F.col("variant") == 1) & (F.col("seg") == "lo"),
                     F.expr("s * 10000 div n"))).alias("v1_lo"),
        F.expr("COALESCE(SUM(CASE WHEN variant = 0 THEN s END), 0)"
               " * 10000 div SUM(CASE WHEN variant = 0 THEN n END)")
        .cast("bigint").alias("v0_pooled"),
        F.expr("COALESCE(SUM(CASE WHEN variant = 1 THEN s END), 0)"
               " * 10000 div SUM(CASE WHEN variant = 1 THEN n END)")
        .cast("bigint").alias("v1_pooled"))
    return p.select(
        F.col("v0_hi").cast("bigint").alias("v0_hi_bp"),
        F.col("v1_hi").cast("bigint").alias("v1_hi_bp"),
        F.col("v0_lo").cast("bigint").alias("v0_lo_bp"),
        F.col("v1_lo").cast("bigint").alias("v1_lo_bp"),
        F.col("v0_pooled").alias("v0_pooled_bp"),
        F.col("v1_pooled").alias("v1_pooled_bp"),
        ((F.col("v1_hi") > F.col("v0_hi"))
         & (F.col("v1_lo") > F.col("v0_lo"))
         & (F.col("v1_pooled") < F.col("v0_pooled"))).cast("int")
        .alias("reversed"))


@query(
    "majority_impute",
    """
    WITH rec AS (
      SELECT source, lang AS true_lang,
             CASE WHEN doc_id % 11 <> 0 THEN lang END AS known
      FROM documents),
    modes AS (
      SELECT source,
             (min({'negcnt': -cnt, 'l': l})).l AS mode_lang
      FROM (SELECT source, known AS l, COUNT(*) AS cnt FROM rec
            WHERE known IS NOT NULL GROUP BY source, known) c
      GROUP BY source)
    SELECT r.source,
           CAST(COALESCE(SUM(CASE WHEN r.known IS NULL THEN 1 END), 0)
                AS BIGINT) AS n_missing,
           MAX(m.mode_lang) AS mode_lang,
           CAST(COALESCE(SUM(CASE WHEN r.known IS NULL
                  AND m.mode_lang = r.true_lang THEN 1 END), 0)
                AS BIGINT) AS n_correct,
           CAST(COALESCE(SUM(CASE WHEN r.known IS NULL
                  AND m.mode_lang = r.true_lang THEN 1 END), 0)
                * 10000 // GREATEST(COALESCE(SUM(CASE WHEN r.known
                  IS NULL THEN 1 END), 0), 1) AS BIGINT) AS acc_bp
    FROM rec r JOIN modes m ON r.source = m.source
    GROUP BY r.source
    """,
)
def q_majority_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode imputation with a built-in accuracy audit — missing
    language tags (simulated on a deterministic residue) fill with
    each source's majority language, and because the truth is known
    here, the query ALSO reports how often the imputation would have
    been right — the calibration every imputation rule needs before
    it silently rewrites a corpus. The mode is a struct-MIN on
    (-count, lang) so ties break to the smaller language
    deterministically; modes broadcast back onto the rows."""
    docs = _t(spark, sf_dir, "documents")
    rec = docs.select(
        "source", F.col("lang").alias("true_lang"),
        F.when(F.col("doc_id") % 11 != 0, F.col("lang")).alias("known"))
    counts = (rec.filter(F.col("known").isNotNull())
              .groupBy("source", F.col("known").alias("l"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    modes = counts.groupBy("source").agg(
        F.min(F.struct((-F.col("cnt")).alias("negcnt"),
                       F.col("l").alias("l"))).alias("mb"))
    modes = modes.select("source", F.col("mb.l").alias("mode_lang"))
    j = rec.join(F.broadcast(modes), "source")
    return j.groupBy("source").agg(
        F.coalesce(F.sum(F.when(F.col("known").isNull(), 1)), F.lit(0))
        .cast("bigint").alias("n_missing"),
        F.max("mode_lang").alias("mode_lang"),
        F.coalesce(F.sum(F.when(
            F.col("known").isNull()
            & (F.col("mode_lang") == F.col("true_lang")), 1)),
            F.lit(0)).cast("bigint").alias("n_correct"),
        F.expr("COALESCE(SUM(CASE WHEN known IS NULL AND mode_lang ="
               " true_lang THEN 1 END), 0) * 10000"
               " div GREATEST(COALESCE(SUM(CASE WHEN known IS NULL"
               " THEN 1 END), 0), 1)")
        .cast("bigint").alias("acc_bp"))


@query(
    "gains_curve",
    """
    WITH scored AS (
      SELECT doc_id,
             (doc_id * 2654435761) % 1000 AS score,
             CASE WHEN (doc_id * 2654435761) % 1000 >= 800
                    OR doc_id % 37 = 0
             THEN 1 ELSE 0 END AS pos
      FROM documents),
    deciled AS (
      SELECT score, pos,
             NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored),
    agg AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos
      FROM deciled GROUP BY decile),
    cum AS (
      SELECT decile, n, n_pos,
             SUM(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos,
             SUM(n_pos) OVER () AS total_pos,
             SUM(n) OVER () AS total
      FROM agg)
    SELECT decile, n, n_pos,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(cum_pos * 10000 // GREATEST(total_pos, 1) AS BIGINT)
             AS cum_share_bp,
           CAST(n_pos * total * 100
                // GREATEST(n * total_pos, 1) AS BIGINT) AS lift_x100
    FROM cum
    """,
)
def q_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table by score decile — the model-eval readout next
    to AUC: rank by score, cut into ten equal bins (deterministic
    NTILE tie-break by id), and report each decile's positive count,
    the cumulative share of all positives captured, and the lift over
    base rate (x100 fixed point). The planted score-label correlation
    (high scores mostly positive plus a noise residue) makes the
    curve properly decreasing. One window pass over the scored rows +
    a 10-row cumulative window."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    scored = docs.select(
        k.alias("doc_id"),
        ((k * 2654435761) % 1000).alias("score"),
        ((((k * 2654435761) % 1000) >= 800) | (k % 37 == 0))
        .cast("int").alias("pos"))
    deciled = scored.select(
        "score", "pos",
        F.ntile(10).over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("decile"))
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("pos"), F.lit(0)).cast("bigint")
        .alias("n_pos"))
    wcum = (Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = agg.select(
        "decile", "n", "n_pos",
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n_pos").over(wall).alias("total_pos"),
        F.sum("n").over(wall).alias("total"))
    return cum.select(
        "decile", "n", "n_pos",
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        F.expr("cum_pos * 10000 div GREATEST(total_pos, 1)")
        .cast("bigint").alias("cum_share_bp"),
        F.expr("n_pos * total * 100 div GREATEST(n * total_pos, 1)")
        .cast("bigint").alias("lift_x100"))


@query(
    "longest_streak",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    anchored AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY day) AS INTEGER) AS anchor
      FROM d),
    runs AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM anchored GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(SUM(run_len) AS BIGINT) AS n_active_days,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY user_id
    """,
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands idiom in its purest form: subtracting the row
    number (in days) from each active date collapses every
    consecutive run to a single constant anchor, so one groupBy
    yields run lengths without any self-join or fold — the retention
    metric ('7-day streak') engagement systems compute. Distinct
    (user, day) first, one user-partitioned window, one aggregate."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    anchored = d.select(
        "user_id", "day",
        F.expr("date_sub(day, CAST(ROW_NUMBER() OVER (PARTITION BY"
               " user_id ORDER BY day) AS INT))").alias("anchor"))
    runs = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.sum("run_len").cast("bigint").alias("n_active_days"),
        F.max("run_len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"))


_ALOG_TEXT = (
    ["10.0.0.", 200, ' - - [15/Jan/2024:12:00:01 +0000] "GET /index.html '
     'HTTP/1.1" 200 5120'],
    ["192.168.1.", 200, ' - - [15/Jan/2024:12:00:02 +0000] "POST '
     '/api/v1/items HTTP/1.1" 404 512'],
    ["garbled line without structure ", 3],
    ["10.1.2.", 200, ' - - [15/Jan/2024:12:00:03 +0000] "HEAD /health '
     'HTTP/1.1" 500 -'],
)
_ALOG_TEXT_SQL = _docs_sql(_ALOG_TEXT, "line")

_ALOG_PAT = ("^([0-9.]+) - - \\[([^\\]]+)\\] "
             + '"([A-Z]+) ([^ ]+) HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)')

_ALOG_SQL = (
    "WITH u AS (" + _ALOG_TEXT_SQL + ")"
    """
    SELECT doc,
           nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 1), '') AS ip,
           nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 3), '') AS method,
           nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 4), '') AS path,
           CAST(nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 5), '')
             AS BIGINT) AS status,
           TRY_CAST(nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 6), '')
             AS BIGINT) AS bytes,
           CAST(CASE WHEN regexp_matches(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)')
             THEN 0 ELSE 1 END AS INT) AS malformed
    FROM u
    """
)


@query("apache_log_parse", _ALOG_SQL)
def q_apache_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache/nginx access-log parsing — the combined-log regex with
    observable failure: structured fields (ip, method, path, status,
    bytes) extract as typed columns, a '-' byte count TRY_CASTs to
    NULL (HEAD responses), and any line the grammar rejects lands
    whole in the malformed lane instead of silently dropping — the
    same never-silent contract as jsonl_ingest. Zero-shuffle
    projection; the downstream rollups (status funnel, bot gap
    analysis) already exist in this suite."""
    docs = _docs(spark, sf_dir, _ALOG_TEXT, "line")
    pat = _ALOG_PAT

    def grp(i: int):
        return F.nullif(F.regexp_extract("line", pat, i), F.lit(""))

    return docs.select(
        "doc",
        grp(1).alias("ip"),
        grp(3).alias("method"),
        grp(4).alias("path"),
        grp(5).cast("bigint").alias("status"),
        grp(6).try_cast("bigint").alias("bytes"),
        (~F.col("line").rlike(pat)).cast("int").alias("malformed"))


_UA_TEXT = (
    ["Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "Chrome/120.0 Safari/537.36"],
    ["Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Version/17.0 "
     "Mobile/15E148 Safari"],
    ["Mozilla/5.0 (compatible; Googlebot/2.1; "
     "+http://www.google.com/bot.html)"],
    ["curl/8.", 5, ".0"],
    ["python-requests/2.", 30, ".0"],
)
_UA_TEXT_SQL = _docs_sql(_UA_TEXT, "ua")

_UA_SQL = (
    "WITH u AS (" + _UA_TEXT_SQL + ")"
    """
    SELECT doc,
           CASE WHEN regexp_matches(ua,
                  '(?i)(bot|crawler|spider|curl|python-requests|wget)')
                THEN 'bot'
                WHEN strpos(ua, 'Mobile') > 0
                  OR strpos(ua, 'iPhone') > 0
                  OR strpos(ua, 'Android') > 0 THEN 'mobile'
                WHEN strpos(ua, 'Mozilla/') > 0 THEN 'desktop'
                ELSE 'other' END AS ua_class,
           CAST(CASE WHEN regexp_matches(ua,
                  '(?i)(bot|crawler|spider|curl|python-requests|wget)')
                THEN 1 ELSE 0 END AS INT) AS is_bot
    FROM u
    """
)


@query("ua_classify", _UA_SQL)
def q_ua_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-agent classification — the traffic-hygiene split every log
    pipeline runs first: declared bots and script clients (curl,
    python-requests, wget) out of engagement metrics, mobile vs
    desktop for the rest. Priority matters: Googlebot's UA contains
    'Mozilla/' too, so the bot test runs FIRST — the classic
    misclassification bug. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _UA_TEXT, "ua")
    is_bot = F.col("ua").rlike(
        "(?i)(bot|crawler|spider|curl|python-requests|wget)")
    cls = (
        F.when(is_bot, "bot")
        .when(F.col("ua").contains("Mobile")
              | F.col("ua").contains("iPhone")
              | F.col("ua").contains("Android"), "mobile")
        .when(F.col("ua").contains("Mozilla/"), "desktop")
        .otherwise("other"))
    return docs.select(
        "doc", cls.alias("ua_class"),
        is_bot.cast("int").alias("is_bot"))


_SECH_TEXT = (
    ["strict-transport-security: max-age=31536000\ncontent-security-policy: "
     "default-src self\nx-frame-options: DENY\nx-content-type-options: "
     "nosniff"],
    ["x-frame-options: SAMEORIGIN\nserver: nginx/", 9],
    ["server: apache\nx-powered-by: PHP/5.", 6],
    ["strict-transport-security: max-age=63072000; includeSubDomains\n"
     "x-content-type-options: nosniff\nreferrer-policy: no-referrer ", 3],
)
_SECH_TEXT_SQL = _docs_sql(_SECH_TEXT, "headers")

_SECH_SQL = (
    "WITH u AS (" + _SECH_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN strpos(headers,
                  'strict-transport-security:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_hsts,
             CAST(CASE WHEN strpos(headers,
                  'content-security-policy:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_csp,
             CAST(CASE WHEN strpos(headers, 'x-frame-options:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_xfo,
             CAST(CASE WHEN strpos(headers,
                  'x-content-type-options:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_xcto,
             CAST(CASE WHEN regexp_matches(headers,
                  '(?m)^(server: [^ ]+/[0-9]|x-powered-by:)')
                THEN 1 ELSE 0 END AS INT) AS leaks_version
      FROM u)
    SELECT doc, has_hsts, has_csp, has_xfo, has_xcto, leaks_version,
           CAST(has_hsts + has_csp + has_xfo + has_xcto
                - leaks_version AS BIGINT) AS security_score
    FROM m
    """
)


@query("security_headers_audit", _SECH_SQL)
def q_security_headers_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Security-header audit — HSTS / CSP / X-Frame-Options /
    X-Content-Type-Options presence minus a version-leak penalty
    (Server banners with versions, X-Powered-By), the crawl-side
    hygiene score security dashboards aggregate per host. A bare
    'server: apache' without a version does NOT count as a leak.
    Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _SECH_TEXT, "headers")

    def has(s: str):
        return F.col("headers").contains(s).cast("int")

    leaks = F.col("headers").rlike(
        "(?m)^(server: [^ ]+/[0-9]|x-powered-by:)").cast("int")
    base = docs.select(
        "doc",
        has("strict-transport-security:").alias("has_hsts"),
        has("content-security-policy:").alias("has_csp"),
        has("x-frame-options:").alias("has_xfo"),
        has("x-content-type-options:").alias("has_xcto"),
        leaks.alias("leaks_version"))
    return base.select(
        "doc", "has_hsts", "has_csp", "has_xfo", "has_xcto",
        "leaks_version",
        (F.col("has_hsts") + F.col("has_csp") + F.col("has_xfo")
         + F.col("has_xcto") - F.col("leaks_version")).cast("bigint")
        .alias("security_score"))


@query(
    "segment_migration",
    """
    WITH per AS (
      SELECT user_id,
             CASE WHEN day(ts) <= 15 THEN 'p1' ELSE 'p2' END AS period,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id,
           CASE WHEN day(ts) <= 15 THEN 'p1' ELSE 'p2' END),
    tiers AS (
      SELECT user_id,
             COALESCE(MAX(CASE WHEN period = 'p1' THEN
               CASE WHEN cnt >= 40 THEN 'hi'
                    WHEN cnt >= 10 THEN 'mid' ELSE 'lo' END END),
               'none') AS t1,
             COALESCE(MAX(CASE WHEN period = 'p2' THEN
               CASE WHEN cnt >= 40 THEN 'hi'
                    WHEN cnt >= 10 THEN 'mid' ELSE 'lo' END END),
               'none') AS t2
      FROM per GROUP BY user_id),
    m AS (
      SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM tiers GROUP BY t1, t2),
    tot AS (
      SELECT t1, CAST(SUM(n_users) AS BIGINT) AS row_total FROM m
      GROUP BY t1)
    SELECT m.t1, m.t2, m.n_users,
           CAST(m.n_users * 10000 // tot.row_total AS BIGINT)
             AS row_share_bp
    FROM m JOIN tot ON m.t1 = tot.t1
    """,
)
def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix — users tiered by first-half activity
    (hi/mid/lo/none) against their second-half tier: the churn/upgrade
    flow a growth dashboard draws as a Sankey, with row-normalized
    shares so 'what fraction of hi-tier users stayed hi' reads
    directly. Two-level aggregation: (user, period) counts, then the
    per-user pivot to a tier pair, then the tiny matrix + row totals
    broadcast back."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") <= 15, "p1").otherwise("p2")
        .alias("period")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tier = (F.when(F.col("cnt") >= 40, "hi")
            .when(F.col("cnt") >= 10, "mid").otherwise("lo"))
    tiers = per.groupBy("user_id").agg(
        F.coalesce(F.max(F.when(F.col("period") == "p1", tier)),
                   F.lit("none")).alias("t1"),
        F.coalesce(F.max(F.when(F.col("period") == "p2", tier)),
                   F.lit("none")).alias("t2"))
    m = tiers.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))
    tot = m.groupBy("t1").agg(
        F.sum("n_users").cast("bigint").alias("row_total"))
    return m.join(F.broadcast(tot), "t1").select(
        "t1", "t2", "n_users",
        F.expr("n_users * 10000 div row_total").cast("bigint")
        .alias("row_share_bp"))


@query(
    "new_vs_returning",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first_seen AS (
      SELECT user_id, MIN(day) AS fday FROM d GROUP BY user_id)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(COALESCE(SUM(CASE WHEN d.day = f.fday THEN 1 END), 0)
                AS BIGINT) AS new_users,
           CAST(COALESCE(SUM(CASE WHEN d.day > f.fday THEN 1 END), 0)
                AS BIGINT) AS returning_users
    FROM d JOIN first_seen f ON d.user_id = f.user_id
    GROUP BY d.day
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily split — each active (user, day) pair
    classifies against the user's first-seen day: the acquisition-vs-
    retention decomposition every DAU chart needs (growth from new
    signups looks identical to growth from returning users until you
    split it). First-seen is a user-keyed MIN joined back; one
    distinct, one aggregate, one join on user."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_seen = d.groupBy("user_id").agg(F.min("day").alias("fday"))
    j = d.join(first_seen, "user_id")
    return j.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.coalesce(F.sum(F.when(F.col("day") == F.col("fday"), 1)),
                   F.lit(0)).cast("bigint").alias("new_users"),
        F.coalesce(F.sum(F.when(F.col("day") > F.col("fday"), 1)),
                   F.lit(0)).cast("bigint").alias("returning_users"))


@query(
    "hapax_rate",
    """
    WITH w AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    wc AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w WHERE word <> '' GROUP BY lang, word)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(cnt) AS BIGINT) AS tokens,
           CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)
                AS BIGINT) AS hapax,
           CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)
                * 10000 // COUNT(*) AS BIGINT) AS hapax_bp,
           CAST(COUNT(*) * 10000 // SUM(cnt) AS BIGINT)
             AS type_token_bp
    FROM wc GROUP BY lang
    """,
)
def q_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per language — hapax legomena share (words
    seen exactly once in the language's corpus slice) and the
    type/token ratio, the vocabulary-health metrics that expose both
    boilerplate floods (hapax share collapses) and OCR noise (hapax
    share explodes with garbage tokens). Word-keyed counts with
    map-side partials, then a per-language rollup of the vocabulary
    grain."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("word"))
    wc = (w.filter(F.col("word") != "")
          .groupBy("lang", "word")
          .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    return wc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("cnt").cast("bigint").alias("tokens"),
        F.coalesce(F.sum(F.when(F.col("cnt") == 1, 1)), F.lit(0))
        .cast("bigint").alias("hapax"),
        F.expr("COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)"
               " * 10000 div COUNT(*)").cast("bigint")
        .alias("hapax_bp"),
        F.expr("COUNT(*) * 10000 div SUM(cnt)").cast("bigint")
        .alias("type_token_bp"))


@query(
    "double_fire_dedup",
    """
    WITH o AS (
      SELECT event_type, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS prev_ts
      FROM events),
    f AS (
      SELECT event_type,
             CASE WHEN prev_ts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(prev_ts) < 1000000
             THEN 1 ELSE 0 END AS is_dup
      FROM o)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COALESCE(SUM(is_dup), 0) AS BIGINT) AS n_double_fires,
           CAST(COALESCE(SUM(is_dup), 0) * 10000 // COUNT(*)
                AS BIGINT) AS dup_bp
    FROM f GROUP BY event_type
    """,
)
def q_double_fire_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-fire detection — the same user emitting the same event
    type twice within one second is almost always a client bug
    (double-click, retry without idempotency key), and the canonical
    telemetry-cleaning rule drops the repeat. LAG over (user, type)
    gives each event its predecessor; sub-second gaps flag in exact
    microseconds. Reported as a per-type rate so instrumentation
    regressions surface as a dup_bp jump. One composite-keyed window +
    one aggregate."""
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, LAG(ts) OVER (PARTITION BY"
               " user_id, event_type ORDER BY ts, event_id), ts)")
        .alias("gap_us"))
    f = o.select(
        "event_type",
        (F.col("gap_us").isNotNull() & (F.col("gap_us") < 1000000))
        .cast("int").alias("is_dup"))
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.coalesce(F.sum("is_dup"), F.lit(0)).cast("bigint")
        .alias("n_double_fires"),
        F.expr("COALESCE(SUM(is_dup), 0) * 10000 div COUNT(*)")
        .cast("bigint").alias("dup_bp"))


@query(
    "ooo_arrival",
    """
    WITH o AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_id
      FROM events),
    f AS (
      SELECT user_id,
             CASE WHEN prev_id IS NOT NULL AND prev_id > event_id
             THEN 1 ELSE 0 END AS inverted
      FROM o)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COALESCE(SUM(inverted), 0) AS BIGINT) AS n_inversions,
           CAST(COALESCE(SUM(inverted), 0) * 10000 // COUNT(*)
                AS BIGINT) AS ooo_bp
    FROM f GROUP BY user_id
    """,
)
def q_ooo_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival rate per user — event ids are assigned at
    emission, timestamps at ingestion, so an id that DECREASES along
    the time axis marks late/reordered delivery: the metric that sizes
    streaming watermarks (allowed lateness should cover the observed
    inversion tail, not a guess). Adjacent-pair inversions via LAG
    over the (ts, id) order, reported in bp per user. One user-keyed
    window + aggregate."""
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id", "event_id",
        F.expr("LAG(event_id) OVER (PARTITION BY user_id"
               " ORDER BY ts, event_id)").alias("prev_id"))
    f = o.select(
        "user_id",
        (F.col("prev_id").isNotNull()
         & (F.col("prev_id") > F.col("event_id"))).cast("int")
        .alias("inverted"))
    return f.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.coalesce(F.sum("inverted"), F.lit(0)).cast("bigint")
        .alias("n_inversions"),
        F.expr("COALESCE(SUM(inverted), 0) * 10000 div COUNT(*)")
        .cast("bigint").alias("ooo_bp"))


@query(
    "local_clustering",
    f"""
    WITH {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    mem AS (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri),
    cnt AS (SELECT node, COUNT(*) AS c FROM mem GROUP BY node),
    degu AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node),
    alln AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)
    SELECT n.node,
           COALESCE(degu.degree, 0) AS degree,
           CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN COALESCE(degu.degree, 0) >= 2
                THEN COALESCE(cnt.c, 0) * 2 * 10000
                     // (degu.degree * (degu.degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_bp
    FROM alln n LEFT JOIN degu USING (node) LEFT JOIN cnt USING (node)
    """,
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the host link graph —
    triangle_count normalized by deg·(deg−1): a dense self-referential
    cluster (link farm / mirror ring) scores near 10000 bp while a
    genuine hub whose neighbors ignore each other scores near 0, which
    is exactly the split raw triangle counts can't make."""
    from ocr_spark.functions.graph import local_clustering

    return local_clustering(_host_edges(spark, sf_dir))


@query(
    "degree_assortativity",
    f"""
    WITH {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    degu AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node),
    sym AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b AS u, a AS v FROM und),
    samp AS (
      SELECT dx.d AS x, dy.d AS y
      FROM sym JOIN degu dx ON dx.node = sym.u
               JOIN degu dy ON dy.node = sym.v),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(x) AS BIGINT) AS sum_deg,
             CAST(SUM(x * y) AS BIGINT) AS sum_xy,
             CAST(SUM(x * x) AS BIGINT) AS sum_xx
      FROM samp)
    SELECT n_samples, sum_deg, sum_xy, sum_xx,
           CAST(CASE WHEN n_samples * sum_xx - sum_deg * sum_deg = 0
                THEN 0
                ELSE (n_samples * sum_xy - sum_deg * sum_deg) * 10000
                     // (n_samples * sum_xx - sum_deg * sum_deg)
                END AS BIGINT) AS assort_bp
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed degree-assortativity coefficient of the host graph in
    exact basis points — both edge orientations are sampled so the x/y
    marginals coincide and Pearson r reduces to one integer division
    (no square root). Negative r (hubs→leaves) flags star-shaped scrape
    or SEO networks; positive r an organic hub core."""
    from ocr_spark.functions.graph import degree_assortativity

    return degree_assortativity(_host_edges(spark, sf_dir))


@query(
    "spearman_rank",
    """
    WITH nm AS (
      SELECT c.c_nationkey AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey),
    ranked AS (
      SELECT nation,
             ROW_NUMBER() OVER (ORDER BY revenue_cents DESC, nation)
               AS r_rev,
             ROW_NUMBER() OVER (ORDER BY n_orders DESC, nation)
               AS r_cnt
      FROM nm),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((r_rev - r_cnt) * (r_rev - r_cnt)) AS BIGINT)
               AS sum_d2
      FROM ranked)
    SELECT n AS n_nations, sum_d2,
           CAST(CASE WHEN n >= 2
                THEN 10000 - (60000 * sum_d2) // (n * (n * n - 1))
                ELSE 0 END AS BIGINT) AS spearman_bp
    FROM s
    """,
)
def q_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between the revenue and order-count rankings of
    nations, the rank-space companion to Kendall tau
    (``rank_correlation``): ranks are assigned by ROW_NUMBER with the
    nation key as the deterministic tie-break (documented deviation from
    the average-rank tie convention, chosen so both engines produce
    identical integer ranks), then rho = 1 − 6Σd²/(n(n²−1)) carried in
    exact basis points with one truncating division. Fact-table work is
    the one Q5-shaped join+agg; the rank windows run on the ~25-row
    nation grain."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nm = (orders.join(F.broadcast(customer.select("c_custkey",
                                                  "c_nationkey")),
                      orders.o_custkey == F.col("c_custkey"))
          .groupBy(F.col("c_nationkey").alias("nation"))
          .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                     .cast("bigint")).cast("bigint")
               .alias("revenue_cents"),
               F.count(F.lit(1)).cast("bigint").alias("n_orders")))
    ranked = nm.select(
        "nation",
        F.row_number().over(
            Window.orderBy(F.col("revenue_cents").desc(), "nation"))
        .alias("r_rev"),
        F.row_number().over(
            Window.orderBy(F.col("n_orders").desc(), "nation"))
        .alias("r_cnt"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("r_rev") - F.col("r_cnt"))
              * (F.col("r_rev") - F.col("r_cnt"))).cast("bigint")
        .alias("sum_d2"))
    return s.select(
        F.col("n").alias("n_nations"), "sum_d2",
        F.expr("CASE WHEN n >= 2 THEN 10000 - (60000 * sum_d2)"
               " div (n * (n * n - 1)) ELSE 0 END").cast("bigint")
        .alias("spearman_bp"))


@query(
    "theil_sen_trend",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    pairs AS (
      SELECT a.event_type,
             CAST((b.cnt - a.cnt) * 1000000
                  // (b.day - a.day) AS BIGINT) AS slope_ppm
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day),
    ordered AS (
      SELECT event_type, slope_ppm,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope_ppm) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs),
    nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
           FROM daily GROUP BY event_type)
    SELECT o.event_type, nd.n_days,
           CAST(o.np AS BIGINT) AS n_pairs,
           o.slope_ppm AS slope_ppm_per_day
    FROM ordered o JOIN nd ON nd.event_type = o.event_type
    WHERE o.rn = (o.np + 1) // 2
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type — the median of all
    pairwise day-over-day slopes (exact ppm/day via one truncating
    division per pair), immune to the single-day outliers that wreck a
    least-squares fit. The pairwise cross runs on the DAY grain (~90
    rows per type, ~4k pairs), never on events; the median is the lower
    median by value via one ordered window, deterministic regardless of
    tie order. The fact-table work is one date-truncated count."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    a = daily.select(F.col("event_type").alias("et"),
                     F.col("day").alias("d1"), F.col("cnt").alias("c1"))
    b = daily.select(F.col("event_type").alias("et"),
                     F.col("day").alias("d2"), F.col("cnt").alias("c2"))
    pairs = (a.join(b, ["et"])
             .filter(F.col("d1") < F.col("d2"))
             .select(F.col("et").alias("event_type"),
                     F.expr("(c2 - c1) * 1000000 div datediff(d2, d1)")
                     .cast("bigint").alias("slope_ppm")))
    w = Window.partitionBy("event_type").orderBy("slope_ppm")
    ordered = pairs.select(
        "event_type", "slope_ppm",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("np"))
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (ordered
            .filter(F.expr("rn = (np + 1) div 2"))
            .join(nd, "event_type")
            .select("event_type", "n_days",
                    F.col("np").cast("bigint").alias("n_pairs"),
                    F.col("slope_ppm").alias("slope_ppm_per_day")))


@query(
    "hampel_filter",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    win AS (
      SELECT event_type, day, cnt,
             list(cnt) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS w
      FROM daily),
    med AS (
      SELECT event_type, day, cnt, w,
             list_sort(w)[(len(w) + 1) // 2] AS med
      FROM win),
    dev AS (
      SELECT event_type, day, cnt, med,
             list_sort(list_transform(w, v -> abs(v - med)))
               [(len(w) + 1) // 2] AS mad
      FROM med)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           cnt, CAST(med AS BIGINT) AS rolling_med,
           CAST(mad AS BIGINT) AS rolling_mad,
           CAST(CASE WHEN abs(cnt - med) > 3 * mad
                THEN 1 ELSE 0 END AS INT) AS spike
    FROM dev
    """,
)
def q_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel despiking filter over daily event counts — each day is
    judged against the LOWER MEDIAN and MAD of its ±3-day rolling
    window (collected per-row, sorted in-row; all integers, identical
    element picks in both engines), flagging |x − med| > 3·MAD. Unlike
    the global MAD screen (``mad_outliers``) this adapts to trend and
    seasonality: a level shift stops flagging once the window absorbs
    it. On a constant window MAD = 0 and any deviation flags — the
    standard Hampel convention, kept deliberately. One composite-keyed
    window over the day grain; the 7-element in-row sorts are O(1)."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-3, 3))
    win = daily.select("event_type", "day", "cnt",
                       F.collect_list("cnt").over(w).alias("w"))
    med = win.select(
        "event_type", "day", "cnt", "w",
        F.expr("element_at(array_sort(w),"
               " CAST((size(w) + 1) / 2 AS INT))").alias("med"))
    dev = med.select(
        "event_type", "day", "cnt", "med",
        F.expr("element_at(array_sort(transform(w, v -> abs(v - med))),"
               " CAST((size(w) + 1) / 2 AS INT))").alias("mad"))
    return dev.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        F.col("med").cast("bigint").alias("rolling_med"),
        F.col("mad").cast("bigint").alias("rolling_mad"),
        F.expr("CASE WHEN abs(cnt - med) > 3 * mad THEN 1 ELSE 0 END")
        .cast("int").alias("spike"))


@query(
    "basket_pair_lift",
    """
    WITH d AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    no AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM d),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY p),
    pr AS (
      SELECT x.p AS part_a, y.p AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM d x JOIN d y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p HAVING COUNT(*) >= 3)
    SELECT pr.part_a, pr.part_b, pr.n_ab,
           ia.n AS n_a, ib.n AS n_b,
           CAST(pr.n_ab * no.n_orders * 10000 // (ia.n * ib.n)
                AS BIGINT) AS lift_bp,
           CAST(pr.n_ab * 10000 // ia.n AS BIGINT) AS conf_ab_bp
    FROM pr JOIN item ia ON ia.p = pr.part_a
            JOIN item ib ON ib.p = pr.part_b
            CROSS JOIN no
    """,
)
def q_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over order lineitems: support,
    confidence, and lift (exact bp) for every part pair co-bought in >=3
    orders. The pair generator is IN-ROW — each order's sorted distinct
    part list emits its C(k,2) pairs via index-aware transform+slice, so
    fan-out is bounded by basket size squared (~21 for TPC-H's 7-line
    orders), never a corpus self-join; the oracle twin IS the quadratic
    self-join, making output equality the completeness proof. Item
    supports broadcast onto the pair counts; lift > 10000 bp marks
    genuinely associated parts (the cross-sell / bundle signal)."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct()
    no = d.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    item = d.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    basket = d.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps"))
    pairs = basket.select(F.explode(F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        " y -> struct(x AS part_a, y AS part_b))))")).alias("pr"))
    pr = (pairs.select("pr.part_a", "pr.part_b")
          .groupBy("part_a", "part_b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
          .filter(F.col("n_ab") >= 3))
    ia = item.select(F.col("p").alias("part_a"), F.col("n").alias("n_a"))
    ib = item.select(F.col("p").alias("part_b"), F.col("n").alias("n_b"))
    return (pr.join(ia, "part_a").join(ib, "part_b")
            .crossJoin(F.broadcast(no))
            .select("part_a", "part_b", "n_ab", "n_a", "n_b",
                    F.expr("n_ab * n_orders * 10000 div (n_a * n_b)")
                    .cast("bigint").alias("lift_bp"),
                    F.expr("n_ab * 10000 div n_a").cast("bigint")
                    .alias("conf_ab_bp")))


@query(
    "rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM orders GROUP BY o_custkey),
    anchor AS (SELECT MAX(last_day) AS maxd FROM base),
    rfm AS (
      SELECT custkey,
             CAST(anchor.maxd - last_day AS BIGINT) AS recency_days,
             n_orders, revenue_cents
      FROM base CROSS JOIN anchor),
    scored AS (
      SELECT custkey, recency_days, n_orders, revenue_cents,
             6 - NTILE(5) OVER (ORDER BY recency_days, custkey)
               AS r_score,
             6 - NTILE(5) OVER (ORDER BY n_orders DESC, custkey)
               AS f_score,
             6 - NTILE(5) OVER (ORDER BY revenue_cents DESC, custkey)
               AS m_score
      FROM rfm)
    SELECT custkey, recency_days, n_orders, revenue_cents,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    anchored to the corpus max so the result is reproducible), frequency
    and monetary quintiles via NTILE(5) with the customer key as the
    deterministic tie-break, folded into the classic named segments
    (champion / at_risk / new / hibernating / regular). One fact-table
    agg; the three quintile windows run on the customer grain. The
    global NTILE is the documented single-ordering cost — at 10^9
    customers swap to percent_rank over pre-agged (value, count) or
    per-shard ntile + merge."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint").alias("revenue_cents"))
    anchor = base.agg(F.max("last_day").alias("maxd"))
    rfm = base.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("maxd", "last_day").cast("bigint")
        .alias("recency_days"),
        "n_orders", "revenue_cents")
    scored = rfm.select(
        "custkey", "recency_days", "n_orders", "revenue_cents",
        (F.lit(6) - F.ntile(5).over(
            Window.orderBy("recency_days", "custkey"))).alias("r_score"),
        (F.lit(6) - F.ntile(5).over(
            Window.orderBy(F.col("n_orders").desc(), "custkey")))
        .alias("f_score"),
        (F.lit(6) - F.ntile(5).over(
            Window.orderBy(F.col("revenue_cents").desc(), "custkey")))
        .alias("m_score"))
    return scored.select(
        "custkey", "recency_days", "n_orders", "revenue_cents",
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        F.expr(
            "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4"
            " THEN 'champion'"
            " WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'"
            " WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'"
            " WHEN r_score >= 4 AND f_score <= 2 THEN 'new'"
            " ELSE 'regular' END").alias("segment"))


@query(
    "kmv_distinct",
    """
    WITH hu AS (
      SELECT DISTINCT
        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events),
    bot AS (SELECT h FROM hu ORDER BY h LIMIT 256),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(h) AS BIGINT) AS kth_hash FROM bot),
    per AS (
      SELECT h,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM (SELECT DISTINCT event_type AS g,
              ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                AS h
            FROM events)),
    mu AS (SELECT DISTINCT h FROM per WHERE rn <= 256),
    mbot AS (SELECT h FROM mu ORDER BY h LIMIT 256),
    magg AS (SELECT CAST(COUNT(*) AS BIGINT) AS mn,
                    CAST(MAX(h) AS BIGINT) AS mkth FROM mbot),
    ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
             AS exact_distinct FROM events)
    SELECT CAST(256 AS BIGINT) AS k, n_kept, kth_hash,
           CAST(CASE WHEN n_kept < 256 THEN n_kept
                ELSE 255 * 4294967296 // kth_hash END AS BIGINT)
             AS est_distinct,
           CAST(CASE WHEN mn < 256 THEN mn
                ELSE 255 * 4294967296 // mkth END AS BIGINT)
             AS est_merged,
           exact_distinct
    FROM agg CROSS JOIN magg CROSS JOIN ex
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct sketch over event users — the third
    mergeable sketch beside HLL (cardinality) and CMS (frequency): keep
    the 256 smallest md5-derived hashes, estimate (k−1)·2³²/h_k, and
    demonstrate the merge property by re-bottoming the union of
    per-event-type sketches (est_merged == est_distinct by
    construction). Bottom-k is a distributed TakeOrdered, never a
    global sort."""
    from ocr_spark.functions.curation import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "events"), "user_id", k=256)


@query(
    "good_turing_counts",
    """
    WITH w AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    wc AS (SELECT word, COUNT(*) AS c FROM w
           WHERE word <> '' GROUP BY word),
    coc AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM wc GROUP BY c),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM wc),
    frame AS (SELECT unnest(generate_series(1, 10)) AS r)
    SELECT frame.r,
           COALESCE(a.n_r, 0) AS n_r,
           COALESCE(b.n_r, 0) AS n_r_plus_1,
           CAST(CASE WHEN COALESCE(a.n_r, 0) = 0 THEN 0
                ELSE (frame.r + 1) * COALESCE(b.n_r, 0) * 1000
                     // a.n_r END AS BIGINT) AS gt_r_star_milli,
           CAST(CASE WHEN frame.r = 1
                THEN COALESCE(a.n_r, 0) * 10000 // tot.n_tokens
                ELSE 0 END AS BIGINT) AS unseen_mass_bp
    FROM frame LEFT JOIN coc a ON a.r = frame.r
               LEFT JOIN coc b ON b.r = frame.r + 1
               CROSS JOIN tot
    """,
)
def q_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency-of-frequencies over the corpus vocabulary:
    N_r (word types seen exactly r times) for r = 1..10, the adjusted
    count r* = (r+1)·N_{r+1}/N_r in exact milli-units, and the unseen-
    mass estimate N_1/N on the r=1 row — the smoothing table every
    language model over a corpus slice starts from, and a corpus-health
    readout (OCR garbage inflates N_1; boilerplate floods deflate it).
    Word-keyed counts with map-side partials, then a ≤10-row frame
    join on the count-of-counts grain."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word"))
    wc = (w.filter(F.col("word") != "")
          .groupBy("word")
          .agg(F.count(F.lit(1)).alias("c")))
    coc = wc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r"))
    tot = wc.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    frame = spark.range(1, 11).select(F.col("id").alias("r"))
    a = coc.select(F.col("r").alias("ra"), F.col("n_r").alias("na"))
    b = coc.select(F.col("r").alias("rb"), F.col("n_r").alias("nb"))
    return (frame
            .join(F.broadcast(a), frame["r"] == F.col("ra"), "left")
            .join(F.broadcast(b), frame["r"] + 1 == F.col("rb"), "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "r",
                F.coalesce("na", F.lit(0)).cast("bigint").alias("n_r"),
                F.coalesce("nb", F.lit(0)).cast("bigint")
                .alias("n_r_plus_1"),
                F.expr("CASE WHEN COALESCE(na, 0) = 0 THEN 0"
                       " ELSE (r + 1) * COALESCE(nb, 0) * 1000"
                       " div na END").cast("bigint")
                .alias("gt_r_star_milli"),
                F.expr("CASE WHEN r = 1 THEN"
                       " COALESCE(na, 0) * 10000 div n_tokens"
                       " ELSE 0 END").cast("bigint")
                .alias("unseen_mass_bp")))


_SOFT404_TEXT = (
    ["The harvest festival drew record crowds and the mayor opened the fair ",
     7],
    ["Oops! The page you are looking for cannot be found. Error 404. Try the "
     "homepage ", 3],
    ["The marathon had 404 runners this year, a record for the city ", 4],
    ["Page not found. The requested URL was not found on this server ", 3],
    ["This article no longer exists and has been removed by the editors ", 6],
)
_SOFT404_TEXT_SQL = f"""
    SELECT doc_id AS doc,
           CAST(CASE WHEN doc_id % 5 = 3 THEN 404 ELSE 200 END AS INT)
             AS status,
           {case_sql('doc_id', _SOFT404_TEXT)} AS text
    FROM documents
"""

_SOFT404_SQL = (
    "WITH u AS (" + _SOFT404_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc, status,
             CAST(len(regexp_extract_all(text,
                  '(?i)(error 404|404 error|404 not found|'
                  || 'page not found)')) AS BIGINT) AS strong_hits,
             CAST(len(regexp_extract_all(text,
                  '(?i)(no longer exists|has been removed|'
                  || 'cannot be found|requested url was not found)'))
                  AS BIGINT) AS weak_hits
      FROM u)
    SELECT doc, status, strong_hits, weak_hits,
           CAST(CASE WHEN status = 200
                      AND (strong_hits >= 1 OR weak_hits >= 2)
                THEN 1 ELSE 0 END AS INT) AS soft404
    FROM m
    """
)


@query("soft404_detect", _SOFT404_SQL)
def q_soft404_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection — error pages served with HTTP 200 are the
    classic crawl poison: the status code says keep, the content is
    'page not found' boilerplate that then dominates exact-dedup
    clusters and quality-filter survivors. One strong marker ('error
    404', 'page not found') suffices; generic phrases ('no longer
    exists', 'has been removed') need two, so prose that merely
    mentions a removal — or the number 404 — never gates. Real 404s
    (status=404) are already routed by the fetcher; only status=200
    rows can flag. Zero-shuffle projection."""
    k = F.col("doc_id")
    m = k % 5
    status = F.when(m == 3, 404).otherwise(200).cast("int")
    docs = _cpu(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"), status.alias("status"),
        case_col(k, _SOFT404_TEXT).alias("text"))
    strong = F.size(F.regexp_extract_all(
        F.col("text"),
        F.lit("(?i)(error 404|404 error|404 not found|page not found)"),
        F.lit(0))).cast("bigint")
    weak = F.size(F.regexp_extract_all(
        F.col("text"),
        F.lit("(?i)(no longer exists|has been removed|cannot be found|"
              "requested url was not found)"), F.lit(0))).cast("bigint")
    m2 = docs.select("doc", "status", strong.alias("strong_hits"),
                     weak.alias("weak_hits"))
    return m2.select(
        "doc", "status", "strong_hits", "weak_hits",
        F.expr("CASE WHEN status = 200 AND (strong_hits >= 1 OR"
               " weak_hits >= 2) THEN 1 ELSE 0 END").cast("int")
        .alias("soft404"))


_PRICE_TEXT = (
    ["Now only $1,299.99 while stocks last ", 5],
    ["Preis: 12,50 € inkl. MwSt ", 3],
    ["Price: Rs. 1,23,456 onwards ", 4],
    ["The subscription costs USD 49 per year ", 2],
    ["Download for free today ", 3],
    ["The committee met at 3,000 feet elevation ", 4],
)
_PRICE_TEXT_SQL = _docs_sql(_PRICE_TEXT, "text")

_PRICE_CENTS_SQL = """
           CASE WHEN raw IS NULL THEN NULL
                WHEN is_comma = 1 THEN
                  CAST(regexp_extract(replace(raw, '.', ''),
                       '^([0-9]+),', 1) AS BIGINT) * 100
                  + CAST(rpad(regexp_extract(replace(raw, '.', ''),
                         ',([0-9]{1,2})$', 1), 2, '0') AS BIGINT)
                ELSE
                  CAST(regexp_extract(replace(raw, ',', ''),
                       '^([0-9]+)', 1) AS BIGINT) * 100
                  + CASE WHEN regexp_extract(replace(raw, ',', ''),
                              '\\.([0-9]{1,2})$', 1) = '' THEN 0
                         ELSE CAST(rpad(regexp_extract(
                              replace(raw, ',', ''),
                              '\\.([0-9]{1,2})$', 1), 2, '0') AS BIGINT)
                    END
           END
"""

_PRICE_SQL = (
    "WITH u AS (" + _PRICE_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc, text,
             regexp_extract(text,
               '\\$\\s*([0-9][0-9,]*(\\.[0-9]{1,2})?)', 1) AS d_amt,
             regexp_extract(text,
               '([0-9][0-9.]*,[0-9]{1,2})\\s*€', 1) AS e_amt,
             regexp_extract(text,
               '(?i)\\brs\\.?\\s*([0-9][0-9,]*(\\.[0-9]{1,2})?)', 1)
               AS r_amt,
             regexp_extract(text,
               '(?i)\\b(usd|eur|inr)\\s+([0-9][0-9,]*(\\.[0-9]{1,2})?)',
               1) AS c_cur,
             regexp_extract(text,
               '(?i)\\b(usd|eur|inr)\\s+([0-9][0-9,]*(\\.[0-9]{1,2})?)',
               2) AS c_amt
      FROM u),
    pick AS (
      SELECT doc,
             CASE WHEN d_amt <> '' THEN 'USD'
                  WHEN e_amt <> '' THEN 'EUR'
                  WHEN r_amt <> '' THEN 'INR'
                  WHEN c_cur <> '' THEN upper(c_cur) END AS currency,
             CASE WHEN d_amt <> '' THEN d_amt
                  WHEN e_amt <> '' THEN e_amt
                  WHEN r_amt <> '' THEN r_amt
                  WHEN c_cur <> '' THEN c_amt END AS raw,
             CASE WHEN d_amt = '' AND e_amt <> '' THEN 1 ELSE 0 END
               AS is_comma
      FROM m)
    SELECT doc, currency, raw AS price_raw,
           CAST(""" + _PRICE_CENTS_SQL + """ AS BIGINT) AS amount_cents
    FROM pick
    """
)


@query("price_normalize", _PRICE_SQL)
def q_price_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price extraction + normalization to exact integer cents with an
    ISO currency code — the commerce sibling of unit_normalize: '$1,299.99'
    (US thousands/dot-decimal), '12,50 €' (EU dot-thousands/comma-
    decimal), 'Rs. 1,23,456' (Indian 2-2-3 grouping — groupings are
    stripped, not interpreted), and 'USD 49' code-prefixed forms all
    land in one (currency, amount_cents) pair; pages with no
    currency-adjacent number (bare '3,000 feet', 'free') stay NULL —
    observable, never a silent 0. First-match-wins priority $ > € >
    Rs > code keeps the parse deterministic. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _PRICE_TEXT, "text")
    d_amt = F.regexp_extract(
        "text", r"\$\s*([0-9][0-9,]*(\.[0-9]{1,2})?)", 1)
    e_amt = F.regexp_extract(
        "text", "([0-9][0-9.]*,[0-9]{1,2})\\s*€", 1)
    r_amt = F.regexp_extract(
        "text", r"(?i)\brs\.?\s*([0-9][0-9,]*(\.[0-9]{1,2})?)", 1)
    c_cur = F.regexp_extract(
        "text", r"(?i)\b(usd|eur|inr)\s+([0-9][0-9,]*(\.[0-9]{1,2})?)",
        1)
    c_amt = F.regexp_extract(
        "text", r"(?i)\b(usd|eur|inr)\s+([0-9][0-9,]*(\.[0-9]{1,2})?)",
        2)
    pick = docs.select(
        "doc",
        F.when(d_amt != "", F.lit("USD"))
        .when(e_amt != "", F.lit("EUR"))
        .when(r_amt != "", F.lit("INR"))
        .when(c_cur != "", F.upper(c_cur)).alias("currency"),
        F.when(d_amt != "", d_amt)
        .when(e_amt != "", e_amt)
        .when(r_amt != "", r_amt)
        .when(c_cur != "", c_amt).alias("raw"),
        F.when((d_amt == "") & (e_amt != ""), 1).otherwise(0)
        .alias("is_comma"))
    return pick.select(
        "doc", "currency", F.col("raw").alias("price_raw"),
        F.expr(_PRICE_CENTS_SQL.replace("\\.", "\\\\.")).cast("bigint")
        .alias("amount_cents"))


_RAKE_STOP_RE = (
    r"\b(the|of|and|a|in|to|is|for|with|on|as|by|at|an|are|was|were|be|"
    r"this|that|it|or|from|but)\b"
)


@query(
    "rake_keyphrases",
    f"""
    WITH t AS (
      SELECT regexp_replace(regexp_replace(lower(text),
               '[^a-z\\s]', '|', 'g'),
               '{_RAKE_STOP_RE}', '|', 'g') AS t3
      FROM documents),
    fr AS (SELECT unnest(string_split(t3, '|')) AS frag FROM t),
    ph AS (SELECT trim(regexp_replace(frag, '\\s+', ' ', 'g'))
             AS phrase FROM fr),
    occ AS (
      SELECT phrase, len(string_split(phrase, ' ')) AS nw
      FROM ph
      WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 4),
    pf AS (SELECT phrase, COUNT(*) AS n_occ FROM occ GROUP BY phrase),
    pw AS (SELECT unnest(string_split(phrase, ' ')) AS word, nw
           FROM occ),
    ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
                  CAST(SUM(nw) AS BIGINT) AS deg
           FROM pw GROUP BY word),
    ptw AS (SELECT phrase, n_occ,
                   unnest(string_split(phrase, ' ')) AS word
            FROM pf),
    sc AS (
      SELECT phrase, n_occ,
             CAST(SUM(deg * 1000 // freq) AS BIGINT) AS score_milli
      FROM ptw JOIN ws USING (word)
      GROUP BY phrase, n_occ)
    SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ, score_milli
    FROM sc
    ORDER BY score_milli DESC, n_occ DESC, phrase
    LIMIT 20
    """,
)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are the maximal runs between stopwords and
    punctuation (both replaced by a boundary marker in one regex pass,
    so segmentation is a zero-join projection), each phrase scored by
    SUM over its words of degree/frequency — degree rewards words that
    appear inside long phrases, frequency discounts ubiquitous ones —
    carried in exact milli-units with one truncating division per word.
    Scale shape: phrase and word stats are plain keyed aggs with
    map-side partials (vocab-bounded), the phrase-type word explode is
    bounded by 4 tokens, and the top-20 is a distributed TakeOrdered
    with a full deterministic tie-break."""
    docs = _cpu(spark, sf_dir, "documents")
    t3 = F.regexp_replace(
        F.regexp_replace(F.lower("text"), r"[^a-z\s]", "|"),
        _RAKE_STOP_RE, "|")
    frag = docs.select(F.explode(F.split(t3, r"[|]")).alias("frag"))
    ph = frag.select(
        F.trim(F.regexp_replace("frag", r"\s+", " ")).alias("phrase"))
    occ = (ph.filter(F.col("phrase") != "")
           .select("phrase",
                   F.size(F.split("phrase", " ")).alias("nw"))
           .filter(F.col("nw") <= 4))
    pf = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occ"))
    pw = occ.select(F.explode(F.split("phrase", " ")).alias("word"),
                    "nw")
    ws = pw.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("nw").cast("bigint").alias("deg"))
    ptw = pf.select("phrase", "n_occ",
                    F.explode(F.split("phrase", " ")).alias("word"))
    sc = (ptw.join(ws, "word")
          .groupBy("phrase", "n_occ")
          .agg(F.sum(F.expr("deg * 1000 div freq")).cast("bigint")
               .alias("score_milli")))
    return (sc.orderBy(F.col("score_milli").desc(),
                       F.col("n_occ").desc(), "phrase")
            .limit(20)
            .select("phrase", F.col("n_occ").cast("bigint")
                    .alias("n_occ"), "score_milli"))


@query(
    "skipgram_pairs",
    """
    WITH wsrc AS (
      SELECT doc_id AS doc,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS ws
      FROM documents),
    p AS (
      SELECT doc, i, ws[i] AS w
      FROM wsrc, UNNEST(range(1, len(ws) + 1)) AS t(i)),
    pr AS (
      SELECT a.w AS center, b.w AS context
      FROM p a JOIN p b
        ON a.doc = b.doc AND b.i BETWEEN a.i - 2 AND a.i + 2
           AND b.i <> a.i)
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pr GROUP BY center, context HAVING COUNT(*) >= 3
    """,
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair generation (word2vec data prep, window
    ±2): every (center, context) co-occurrence within two positions,
    counted corpus-wide with min support 3. The pair emission is
    IN-ROW — an index-aware transform over each document's word array
    emits its ≤4 context slots per token, so fan-out is a constant
    factor of corpus tokens and there is never a positional self-join;
    the oracle twin IS the positional self-join, making output equality
    the completeness proof. One gram-keyed agg with map-side partials —
    the same scale shape as pmi_collocations, which consumes these
    counts' bigram subset."""
    docs = _cpu(spark, sf_dir, "documents")
    ws = docs.select(
        F.expr("filter(split(lower(text), ' '), w -> w != '')")
        .alias("ws"))
    pairs = ws.select(F.explode(F.expr(
        "flatten(transform(ws, (c, i) ->"
        " filter(transform(sequence(greatest(i - 2, 0),"
        "                           least(i + 2, size(ws) - 1)),"
        "   j -> CASE WHEN j <> i THEN"
        "     struct(c AS center, element_at(ws, j + 1) AS context)"
        "   END), x -> x IS NOT NULL)))")).alias("pr"))
    return (pairs.select("pr.center", "pr.context")
            .groupBy("center", "context")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .filter(F.col("n_pairs") >= 3))


@query(
    "token_chunking",
    """
    WITH wsrc AS (
      SELECT doc_id AS doc,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS ws
      FROM documents),
    nz AS (SELECT doc, ws, len(ws) AS n FROM wsrc WHERE len(ws) >= 1),
    ch AS (
      SELECT doc, CAST(ci AS BIGINT) AS chunk_idx,
             CAST(LEAST(8, n - ci * 6) AS BIGINT) AS n_tokens,
             md5(array_to_string(
               list_slice(ws, ci * 6 + 1, ci * 6 + 8), ' '))
               AS chunk_md5
      FROM nz, UNNEST(range(0, (n - 1) // 6 + 1)) AS t(ci))
    SELECT doc, chunk_idx, n_tokens, chunk_md5 FROM ch
    """,
)
def q_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking (size 8, stride 6 — the
    shape every context-window training pipeline cuts long documents
    into, scaled down for the fixture corpus): chunk starts at every
    stride multiple below the token count, so consecutive chunks share
    a 2-token overlap and the tail chunk may be short — deterministic,
    never dropped. Entirely IN-ROW (sequence + slice per document, no
    shuffle at all until the sink); emitted as (doc, chunk_idx,
    n_tokens, md5) so the verification surface is hash-sized, not
    text-sized. The content-defined sibling (`cdc_chunking`-style
    boundaries) is covered separately; this is the fixed-stride
    workhorse."""
    docs = _cpu(spark, sf_dir, "documents")
    nz = (docs.select(
        F.col("doc_id").alias("doc"),
        F.expr("filter(split(lower(text), ' '), w -> w != '')")
        .alias("ws"))
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") >= 1))
    ch = nz.select(
        "doc",
        F.explode(F.expr(
            "transform(sequence(0, (n - 1) div 6), ci -> struct("
            " CAST(ci AS BIGINT) AS chunk_idx,"
            " CAST(LEAST(8, n - ci * 6) AS BIGINT) AS n_tokens,"
            " md5(array_join(slice(ws, ci * 6 + 1, 8), ' '))"
            "   AS chunk_md5))")).alias("c"))
    return ch.select("doc", "c.chunk_idx", "c.n_tokens", "c.chunk_md5")


@query(
    "modularity",
    f"""
    WITH lp AS ({{LP}}),
    {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    lab AS (SELECT node, community FROM lp),
    intra AS (
      SELECT la.community AS c
      FROM und JOIN lab la ON la.node = und.a
               JOIN lab lb ON lb.node = und.b
      WHERE la.community = lb.community),
    ec AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS e_c
           FROM intra GROUP BY c),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      GROUP BY node),
    dc AS (
      SELECT l.community AS c, CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM deg JOIN lab l ON l.node = deg.node GROUP BY l.community),
    terms AS (
      SELECT dc.c,
             COALESCE(ec.e_c, 0) AS e_c,
             4 * mm.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS t
      FROM dc LEFT JOIN ec ON ec.c = dc.c CROSS JOIN mm)
    SELECT mm.m AS m_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(e_c) AS BIGINT) AS intra_edges,
           CAST(SUM(t) * 10000 // (4 * mm.m * mm.m) AS BIGINT) AS q_bp
    FROM terms CROSS JOIN mm GROUP BY mm.m
    """.replace("{LP}", "PLACEHOLDER"),
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities on the
    host graph, in exact basis points: Q = Σ_c [e_c/m − (d_c/2m)²]
    carried as Σ_c (4·m·e_c − d_c²) over 4m² with ONE final truncating
    division — the quality number that says whether the communities LPA
    found are denser than a degree-preserving random graph (the
    link-farm/community confirmation beside the per-node clustering
    coefficient). The oracle nests the full unrolled label-propagation
    SQL as a subquery, so both engines score the SAME partition. One
    edge-keyed label join + community-grain aggregates."""
    from ocr_spark.functions.graph import label_propagation

    edges = _host_edges(spark, sf_dir)
    # the label frame feeds THREE consumers (la, lb, dc); persisting it
    # runs the 4-round iterative LP chain once instead of three times
    lab = label_propagation(edges).select(
        "node", F.col("community").alias("c")).persist()
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    mm = und.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    la = lab.select(F.col("node").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("c").alias("cb"))
    intra = (und.join(la, "a").join(lb, "b")
             .filter(F.col("ca") == F.col("cb"))
             .select(F.col("ca").alias("c")))
    ec = intra.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("e_c"))
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("bigint").alias("d")))
    dc = (deg.join(lab, "node")
          .groupBy("c").agg(F.sum("d").cast("bigint").alias("d_c")))
    terms = (dc.join(ec, "c", "left")
             .crossJoin(F.broadcast(mm))
             .select("c", F.coalesce("e_c", F.lit(0)).alias("e_c"),
                     F.expr("4 * m * COALESCE(e_c, 0) - d_c * d_c")
                     .alias("t"), "m"))
    return terms.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("e_c").cast("bigint").alias("intra_edges"),
        F.expr("SUM(t) * 10000 div (4 * m * m)").cast("bigint")
        .alias("q_bp")).select(
            F.col("m").alias("m_edges"), "n_communities",
            "intra_edges", "q_bp")


ORACLE["modularity"] = ORACLE["modularity"].replace(
    "PLACEHOLDER", ORACLE["label_propagation"])


@query(
    "consistent_hash_ring",
    """
    WITH vn AS (
      SELECT tn.n AS owner, tr.r AS r,
             ('0x' || substr(md5('ring:' || CAST(tn.n AS VARCHAR) || ':'
               || CAST(tr.r AS VARCHAR)), 1, 8))::BIGINT AS pos
      FROM UNNEST(generate_series(0, 5)) AS tn(n),
           UNNEST(generate_series(0, 49)) AS tr(r)),
    ring5 AS (SELECT list({'pos': pos, 'owner': owner}
                          ORDER BY pos, owner) AS r5
              FROM vn WHERE owner < 5),
    ring6 AS (SELECT list({'pos': pos, 'owner': owner}
                          ORDER BY pos, owner) AS r6
              FROM vn),
    docs AS (
      SELECT doc_id AS doc,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM documents),
    asg AS (
      SELECT doc,
             (COALESCE(list_filter(r5, s -> s.pos >= h)[1], r5[1])).owner
               AS owner5,
             (COALESCE(list_filter(r6, s -> s.pos >= h)[1], r6[1])).owner
               AS owner6
      FROM docs CROSS JOIN ring5 CROSS JOIN ring6)
    SELECT CAST(owner5 AS BIGINT) AS owner5,
           CAST(owner6 AS BIGINT) AS owner6,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN owner5 <> owner6 THEN 1 ELSE 0 END AS INT)
             AS moved
    FROM asg GROUP BY owner5, owner6
    """,
)
def q_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring assignment with 50 virtual nodes per
    physical node, 5-node vs 6-node rings from one projection — the
    ring-based complement to rendezvous_assign: docs hash onto a 2³²
    ring and belong to the first vnode clockwise. The ring (250/300
    sorted (pos, owner) structs) is ONE broadcast row; lookup is an
    in-row filter-first over the sorted array — no per-doc join, no
    explosion. The movement matrix (owner5, owner6, n_docs, moved)
    exhibits consistent hashing's contract: movers land ONLY on the
    new node, at ~1/6 of the corpus (vnode-count-smoothed)."""
    vn = (spark.range(6).select(F.col("id").alias("owner"))
          .crossJoin(spark.range(50).select(F.col("id").alias("r"))))
    pos = F.conv(F.substring(F.md5(F.concat(
        F.lit("ring:"), F.col("owner").cast("string"), F.lit(":"),
        F.col("r").cast("string"))), 1, 8), 16, 10).cast("bigint")
    vn = vn.select("owner", pos.alias("pos"))
    ring5 = (vn.filter(F.col("owner") < 5)
             .agg(F.sort_array(F.collect_list(
                 F.struct("pos", "owner"))).alias("r5")))
    ring6 = vn.agg(F.sort_array(F.collect_list(
        F.struct("pos", "owner"))).alias("r6"))
    docs = _cpu(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint").alias("h"))
    asg = (docs.crossJoin(F.broadcast(ring5))
           .crossJoin(F.broadcast(ring6))
           .select(
               "doc",
               F.expr("coalesce(get(filter(r5, s -> s.pos >= h), 0),"
                      " r5[0]).owner").alias("owner5"),
               F.expr("coalesce(get(filter(r6, s -> s.pos >= h), 0),"
                      " r6[0]).owner").alias("owner6")))
    return asg.groupBy("owner5", "owner6").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(CASE WHEN owner5 <> owner6 THEN 1 ELSE 0 END"
               " AS INT)").alias("moved")).select(
        F.col("owner5").cast("bigint").alias("owner5"),
        F.col("owner6").cast("bigint").alias("owner6"),
        "n_docs", "moved")


@query(
    "asof_join_enrich",
    """
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           lo.o_orderkey AS last_orderkey,
           lo.cents AS last_order_cents,
           CASE WHEN lo.o_orderkey IS NULL THEN NULL
                ELSE CAST(CAST(e.ts AS DATE) - lo.od AS BIGINT)
           END AS days_since_order
    FROM events e
    LEFT JOIN LATERAL (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o.o_orderdate AS DATE) AS od
      FROM orders o
      WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
    ) lo ON TRUE
    """,
)
def q_asof_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: every event enriched with its user's most recent
    order at-or-before the event timestamp (ties to the later
    orderkey), the temporal join Spark lacks as a primitive. Implemented
    the scale-correct way — NOT a per-event subquery: both streams are
    tagged and unioned, one (user)-keyed window ordered by (time, tag,
    orderkey) carries the last non-null order struct forward, and event
    rows project it off. One shuffle on the join key, linear in
    events+orders, skew handled like any keyed window; the oracle twin
    is the LATERAL point-lookup formulation, so agreement proves the
    window carry-forward implements at-or-before + tie semantics
    exactly."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("tag"),
        F.struct(
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            .alias("cents"),
            F.col("o_orderdate").cast("date").alias("od"),
        ).alias("ord"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey").alias("okey"))
    e = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast(
            "struct<o_orderkey:bigint,cents:bigint,od:date>")
        .alias("ord"),
        "event_id",
        F.lit(-1).cast("bigint").alias("okey"))
    u = o.unionByName(e)
    w = (Window.partitionBy("k")
         .orderBy("t", "tag", "okey")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = u.select(
        "k", "t", "tag", "event_id",
        F.last("ord", ignorenulls=True).over(w).alias("lo"))
    return (carried.filter(F.col("tag") == 1)
            .select(
                "event_id",
                F.col("k").alias("user_id"),
                F.date_format("t", "yyyy-MM-dd HH:mm:ss")
                .alias("ts_str"),
                F.col("lo.o_orderkey").alias("last_orderkey"),
                F.col("lo.cents").alias("last_order_cents"),
                F.when(F.col("lo.o_orderkey").isNull(),
                       F.lit(None).cast("bigint"))
                .otherwise(F.datediff(F.col("t").cast("date"),
                                      F.col("lo.od")).cast("bigint"))
                .alias("days_since_order")))


@query(
    "column_profile",
    """
    SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    """,
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of the orders table — row count,
    null count, and EXACT distinct per column, the first report any
    ingestion QA stage emits (key-ness, null regressions, enum-cardinality
    drift all fall out of it). Spark side runs ONE pass with grouped
    count-distincts (Catalyst expands internally) and unpivots to the
    per-column grain; the oracle is the naive per-column UNION ALL. At
    production scale swap exact distinct for approx_count_distinct —
    noted, not silently done."""
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint"))
                    .cast("bigint").alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).cast("bigint")
                    .alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, nd_{c}" for c in cols)
    return one.select(
        F.expr(f"stack({len(cols)}, {stack_args})"
               " AS (col_name, n_null, n_distinct)"),
        "n_rows").select("col_name", "n_rows", "n_null", "n_distinct")


@query(
    "knn_classify",
    f"""
    WITH tk AS ({_INT8_TOPK_SQL}),
    lab AS (SELECT vec_id, label FROM embeddings),
    votes AS (
      SELECT tk.qid, lab.label, COUNT(*) AS cnt
      FROM tk JOIN lab ON lab.vec_id = tk.nid
      GROUP BY tk.qid, lab.label),
    best AS (
      SELECT qid, MAX(cnt) AS mc FROM votes GROUP BY qid),
    pred AS (
      SELECT v.qid,
             MIN(CASE WHEN v.cnt = b.mc THEN v.label END) AS pred_label,
             MAX(b.mc) AS n_votes
      FROM votes v JOIN best b ON b.qid = v.qid
      GROUP BY v.qid)
    SELECT p.qid, CAST(t.label AS INT) AS true_label,
           CAST(p.pred_label AS INT) AS pred_label,
           CAST(p.n_votes AS BIGINT) AS n_votes,
           CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END
                AS INT) AS correct
    FROM pred p JOIN lab t ON t.vec_id = p.qid
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification eval over the embedding table:
    each query vector's top-5 neighbors under the exact int8-quantized
    dot product (self excluded) vote with their labels — most votes
    wins, ties to the smallest label — scored against the query's true
    label. The end-to-end eval that tells you whether the embedding
    space actually separates the classes the labels claim, sitting on
    the SAME candidate generator as int8_topk/int8_recall so the whole
    retrieval→classify→evaluate chain is one verified path. Neighbor
    scoring is the broadcast-query codegen'd int64 fold; the vote is a
    (query, label)-keyed agg + struct argmax."""
    emb = _cpu(spark, sf_dir, "embeddings")
    tk = similarity.int8_topk(emb, "vec_id", "embedding")
    lab = emb.select("vec_id", "label")
    votes = (tk.join(lab.select(F.col("vec_id").alias("nid"),
                                F.col("label").alias("nlabel")), "nid")
             .groupBy("qid", "nlabel")
             .agg(F.count(F.lit(1)).alias("cnt")))
    pred = (votes.groupBy("qid")
            .agg(F.max(F.struct(F.col("cnt"),
                                (-F.col("nlabel")).alias("nl")))
                 .alias("b"))
            .select("qid", (-F.col("b.nl")).cast("int")
                    .alias("pred_label"),
                    F.col("b.cnt").cast("bigint").alias("n_votes")))
    return (pred.join(lab.select(F.col("vec_id").alias("qid"),
                                 F.col("label").alias("true_label")),
                      "qid")
            .select("qid", F.col("true_label").cast("int")
                    .alias("true_label"), "pred_label", "n_votes",
                    F.expr("CAST(CASE WHEN pred_label = true_label"
                           " THEN 1 ELSE 0 END AS INT)")
                    .alias("correct")))


@query(
    "naive_forecast_eval",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    lagged AS (
      SELECT event_type, day, cnt,
             LAG(cnt, 1) OVER (PARTITION BY event_type ORDER BY day)
               AS prev1,
             LAG(cnt, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS prev7
      FROM daily),
    scored AS (
      SELECT event_type, abs(cnt - prev1) AS e1, abs(cnt - prev7) AS e7
      FROM lagged WHERE prev1 IS NOT NULL AND prev7 IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(e1) AS BIGINT) AS sae_naive1,
           CAST(SUM(e7) AS BIGINT) AS sae_seasonal7,
           CAST(CASE WHEN SUM(e1) = 0 THEN 0
                ELSE SUM(e7) * 10000 // SUM(e1) END AS BIGINT)
             AS mase_bp
    FROM scored GROUP BY event_type
    """,
)
def q_naive_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-style forecast-baseline comparison per event type: sum of
    absolute errors of the seasonal-naive-7 forecast (same weekday last
    week) against the naive-1 baseline (yesterday), over exactly the
    days where both are defined — all in exact integer counts, the
    ratio in truncated bp. mase_bp < 10000 means weekly seasonality
    genuinely predicts (and a seasonal model is worth its complexity);
    the honest denominator guard reports 0 when yesterday is already
    perfect. One composite-keyed window + one aggregate over the day
    grain."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "cnt",
        F.lag("cnt", 1).over(w).alias("prev1"),
        F.lag("cnt", 7).over(w).alias("prev7"))
    scored = (lagged
              .filter(F.col("prev1").isNotNull()
                      & F.col("prev7").isNotNull())
              .select("event_type",
                      F.abs(F.col("cnt") - F.col("prev1")).alias("e1"),
                      F.abs(F.col("cnt") - F.col("prev7")).alias("e7")))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.sum("e1").cast("bigint").alias("sae_naive1"),
        F.sum("e7").cast("bigint").alias("sae_seasonal7"),
        F.expr("CASE WHEN SUM(e1) = 0 THEN 0"
               " ELSE SUM(e7) * 10000 div SUM(e1) END").cast("bigint")
        .alias("mase_bp"))


_SOUNDEX_TR_FROM = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
_SOUNDEX_TR_TO = "111122222222334556000000"


@query(
    "soundex_blocking",
    f"""
    WITH w AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS word
      FROM part),
    u AS (SELECT word, upper(word) AS uw FROM w WHERE word <> ''),
    d0 AS (
      SELECT word, substr(uw, 1, 1) AS first,
             translate(uw, '{_SOUNDEX_TR_FROM}', '{_SOUNDEX_TR_TO}')
               AS dig
      FROM u),
    d1 AS (
      SELECT word, first,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(dig,
                 '0{{2,}}', '0', 'g'), '1{{2,}}', '1', 'g'),
                 '2{{2,}}', '2', 'g'), '3{{2,}}', '3', 'g'),
                 '4{{2,}}', '4', 'g'), '5{{2,}}', '5', 'g'),
                 '6{{2,}}', '6', 'g') AS dig
      FROM d0),
    d2 AS (
      SELECT word, first,
             replace(CASE WHEN first IN ('H', 'W') THEN dig
                          ELSE substr(dig, 2) END, '0', '') AS tail
      FROM d1),
    sx AS (
      SELECT word,
             first || substr(rpad(tail, 3, '0'), 1, 3) AS soundex_code
      FROM d2),
    blk AS (SELECT soundex_code, CAST(COUNT(*) AS BIGINT) AS block_size
            FROM sx GROUP BY soundex_code)
    SELECT sx.word, sx.soundex_code, blk.block_size
    FROM sx JOIN blk USING (soundex_code)
    """,
)
def q_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American Soundex blocking keys over the part-name vocabulary —
    the phonetic hash record linkage uses to bound fuzzy-match candidate
    pairs (block first, edit-distance inside blocks only). Implemented
    from the rulebook identically in both engines with translate +
    run-collapse regexes: H/W are DELETED before collapsing (so codes
    merge across them — the Ashcraft→A261 rule), vowels separate then
    drop, the first letter is kept uncoded. Emits each word's code and
    its block size — the fan-out number that prices the downstream
    verify join. Vocab-grain projection + one code-keyed agg."""
    part = _t(spark, sf_dir, "part")
    w = (part.select(F.explode(F.split("p_name", " ")).alias("word"))
         .filter(F.col("word") != "").distinct())
    u = w.select("word", F.upper("word").alias("uw"))
    d0 = u.select(
        "word", F.substring("uw", 1, 1).alias("first"),
        F.translate("uw", _SOUNDEX_TR_FROM, _SOUNDEX_TR_TO).alias("dig"))
    dig = F.col("dig")
    for c in "0123456":
        dig = F.regexp_replace(dig, c + "{2,}", c)
    d1 = d0.select("word", "first", dig.alias("dig"))
    d2 = d1.select(
        "word", "first",
        F.expr("replace(CASE WHEN first IN ('H', 'W') THEN dig"
               " ELSE substr(dig, 2) END, '0', '')").alias("tail"))
    sx = d2.select(
        "word",
        F.concat(F.col("first"),
                 F.substring(F.rpad("tail", 3, "0"), 1, 3))
        .alias("soundex_code"))
    blk = sx.groupBy("soundex_code").agg(
        F.count(F.lit(1)).cast("bigint").alias("block_size"))
    return sx.join(blk, "soundex_code").select(
        "word", "soundex_code", "block_size")


@query(
    "corpus_growth_curves",
    """
    WITH frame AS (SELECT unnest(generate_series(4, 10)) AS k),
    dt AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '),
                             w -> w <> '')) AS n_tok,
             md5(text) AS h
      FROM documents),
    wf AS (
      SELECT word, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word),
    hf AS (SELECT h, MIN(doc_id) AS first_doc FROM dt GROUP BY h),
    dstats AS (
      SELECT frame.k,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dt.n_tok) AS BIGINT) AS n_tokens
      FROM frame JOIN dt ON dt.doc_id < (1 << frame.k)
      GROUP BY frame.k),
    vstats AS (
      SELECT frame.k, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM frame JOIN wf ON wf.first_doc < (1 << frame.k)
      GROUP BY frame.k),
    cstats AS (
      SELECT frame.k, CAST(COUNT(*) AS BIGINT) AS distinct_content
      FROM frame JOIN hf ON hf.first_doc < (1 << frame.k)
      GROUP BY frame.k)
    SELECT d.k, d.n_docs, d.n_tokens,
           COALESCE(v.vocab, 0) AS vocab,
           COALESCE(c.distinct_content, 0) AS distinct_content,
           CAST((d.n_docs - COALESCE(c.distinct_content, 0)) * 10000
                // d.n_docs AS BIGINT) AS dup_bp
    FROM dstats d LEFT JOIN vstats v ON v.k = d.k
                  LEFT JOIN cstats c ON c.k = d.k
    """,
)
def q_corpus_growth_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus growth curves at geometric prefixes (first 2^k docs,
    k=4..10): token count, Heaps-law vocabulary size, distinct-content
    count, and the exact-dup rate — the scaling table that says whether
    vocabulary still grows sublinearly (healthy) and how dedup yield
    climbs with corpus size (the number that decides whether another
    crawl batch is worth fetching). Single-pass trick: each word/hash
    carries its FIRST doc id, so every prefix's distinct count is one
    conditional count over the vocab/hash grain — the corpus is scanned
    once, never once per prefix. The 7-row frame broadcast-joins on the
    inequality."""
    docs = _cpu(spark, sf_dir, "documents")
    frame = spark.range(4, 11).select(F.col("id").alias("k"))
    dt = docs.select(
        "doc_id",
        F.size(F.expr("filter(split(lower(text), ' '), w -> w != '')"))
        .alias("n_tok"),
        F.md5("text").alias("h"))
    wf = (docs.select("doc_id",
                      F.explode(F.split(F.lower("text"), " "))
                      .alias("word"))
          .filter(F.col("word") != "")
          .groupBy("word").agg(F.min("doc_id").alias("first_doc")))
    hf = dt.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    dstats = (F.broadcast(frame)
              .join(dt, dt["doc_id"] < F.expr("CAST(1 AS BIGINT) << k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                   F.sum("n_tok").cast("bigint").alias("n_tokens")))
    vstats = (F.broadcast(frame)
              .join(wf, wf["first_doc"]
                    < F.expr("CAST(1 AS BIGINT) << k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("bigint").alias("vocab")))
    cstats = (F.broadcast(frame)
              .join(hf, hf["first_doc"]
                    < F.expr("CAST(1 AS BIGINT) << k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("bigint")
                   .alias("distinct_content")))
    return (dstats.join(vstats, "k", "left")
            .join(cstats, "k", "left")
            .select("k", "n_docs", "n_tokens",
                    F.coalesce("vocab", F.lit(0)).cast("bigint")
                    .alias("vocab"),
                    F.coalesce("distinct_content", F.lit(0))
                    .cast("bigint").alias("distinct_content"),
                    F.expr("(n_docs - COALESCE(distinct_content, 0))"
                           " * 10000 div n_docs").cast("bigint")
                    .alias("dup_bp")))


_DEHYPH_TEXT = (
    ["the exam- ple shows a hyphen- ated line break ", 5],
    ["a state-of-the-art system with well-known parts ", 3],
    ["the final score was 3 - 2 in the match ", 4],
    ["plain prose with no broken words at all ", 6],
)
_DEHYPH_TEXT_SQL = _docs_sql(_DEHYPH_TEXT, "text")


@query(
    "dehyphenate",
    "WITH u AS (" + _DEHYPH_TEXT_SQL + ")"
    """
    SELECT doc,
           CAST(len(regexp_extract_all(text,
                '([a-z])-\\s+([a-z])')) AS BIGINT) AS n_repairs,
           md5(regexp_replace(text, '([a-z])-\\s+([a-z])', '\\1\\2',
               'g')) AS repaired_md5
    FROM u
    """,
)
def q_dehyphenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-hyphenation of line-break-split words — the standard OCR/PDF
    text-layer repair: 'exam- ple' rejoins to 'example' when a letter
    directly precedes the hyphen and whitespace follows it. Real
    hyphenated compounds ('state-of-the-art': no space after the
    hyphen) and spaced dashes ('3 - 2': no letter before) never match —
    the precision conditions that make this safe to run corpus-wide.
    Emits the repair count plus the md5 of the repaired text, so the
    fix is byte-verifiable. Zero-shuffle projection; the only dialect
    care is the capture-group reference ($1 in Spark, \\\\1 in
    DuckDB/RE2)."""
    docs = _docs(spark, sf_dir, _DEHYPH_TEXT, "text")
    return docs.select(
        "doc",
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(r"([a-z])-\s+([a-z])"), F.lit(0)))
        .cast("bigint").alias("n_repairs"),
        F.md5(F.regexp_replace(
            "text", r"([a-z])-\s+([a-z])", "$1$2")).alias("repaired_md5"))


@query(
    "kmv_set_ops",
    """
    WITH tc AS (SELECT event_type, COUNT(*) AS c FROM events
                GROUP BY event_type),
    r AS (SELECT event_type,
                 ROW_NUMBER() OVER (ORDER BY c DESC, event_type) AS rn
          FROM tc),
    ta AS (SELECT event_type FROM r WHERE rn = 1),
    tb AS (SELECT event_type FROM r WHERE rn = 2),
    ha AS (SELECT DISTINCT
             ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
           FROM events e JOIN ta ON e.event_type = ta.event_type),
    hb AS (SELECT DISTINCT
             ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
           FROM events e JOIN tb ON e.event_type = tb.event_type),
    hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
    ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT)
             AS kth FROM (SELECT h FROM ha ORDER BY h LIMIT 128)),
    bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT)
             AS kth FROM (SELECT h FROM hb ORDER BY h LIMIT 128)),
    bu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT)
             AS kth FROM (SELECT h FROM hu ORDER BY h LIMIT 128)),
    ests AS (
      SELECT
        CASE WHEN ba.n < 128 THEN ba.n
             ELSE 127 * 4294967296 // ba.kth END AS est_a,
        CASE WHEN bb.n < 128 THEN bb.n
             ELSE 127 * 4294967296 // bb.kth END AS est_b,
        CASE WHEN bu.n < 128 THEN bu.n
             ELSE 127 * 4294967296 // bu.kth END AS est_union
      FROM ba CROSS JOIN bb CROSS JOIN bu),
    uset AS (SELECT DISTINCT e.user_id FROM events e
             JOIN ta ON e.event_type = ta.event_type),
    vset AS (SELECT DISTINCT e.user_id FROM events e
             JOIN tb ON e.event_type = tb.event_type),
    ex AS (
      SELECT CAST((SELECT COUNT(*) FROM uset JOIN vset USING (user_id))
               AS BIGINT) AS exact_inter,
             CAST((SELECT COUNT(*) FROM
                    (SELECT user_id FROM uset
                     UNION SELECT user_id FROM vset)) AS BIGINT)
               AS exact_union)
    SELECT ta.event_type AS type_a, tb.event_type AS type_b,
           CAST(est_a AS BIGINT) AS est_a,
           CAST(est_b AS BIGINT) AS est_b,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(GREATEST(est_a + est_b - est_union, 0) AS BIGINT)
             AS est_inter,
           ex.exact_union, ex.exact_inter
    FROM ests CROSS JOIN ta CROSS JOIN tb CROSS JOIN ex
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra over the user sets of the two largest
    event types: union cardinality from the re-bottomed merged sketch,
    intersection by inclusion–exclusion (clamped at 0), both beside the
    exact join answers — the audience-overlap estimator that works
    across shards without ever co-locating the raw id sets (ship 128
    hashes per side, not millions of users). Bottom-k via distributed
    TakeOrdered; the exact columns are the error report you drop at
    production scale."""
    ev = _t(spark, sf_dir, "events")
    tc = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    r = tc.select("event_type", F.row_number().over(
        Window.orderBy(F.col("c").desc(), "event_type")).alias("rn"))
    ta = r.filter(F.col("rn") == 1).select(
        F.col("event_type").alias("type_a"))
    tb = r.filter(F.col("rn") == 2).select(
        F.col("event_type").alias("type_b"))
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("bigint").alias("h")

    def _hashes(tdf, tcol):
        return (ev.join(F.broadcast(tdf),
                        ev["event_type"] == F.col(tcol))
                .select(h).distinct())

    ha = _hashes(ta, "type_a")
    hb = _hashes(tb, "type_b")
    hu = ha.unionByName(hb).distinct()

    def _bottom(hs, pfx):
        return (hs.orderBy("h").limit(128)
                .agg(F.count(F.lit(1)).cast("bigint").alias(f"{pfx}_n"),
                     F.max("h").cast("bigint").alias(f"{pfx}_kth")))

    def _est(pfx):
        return (f"CASE WHEN {pfx}_n < 128 THEN {pfx}_n"
                f" ELSE 127 * 4294967296 div {pfx}_kth END")

    us = (ev.join(F.broadcast(ta), ev["event_type"] == F.col("type_a"))
          .select("user_id").distinct())
    vs = (ev.join(F.broadcast(tb), ev["event_type"] == F.col("type_b"))
          .select("user_id").distinct())
    exact_inter = us.join(vs, "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    exact_union = us.unionByName(vs).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_union"))
    out = (_bottom(ha, "a")
           .crossJoin(F.broadcast(_bottom(hb, "b")))
           .crossJoin(F.broadcast(_bottom(hu, "u")))
           .crossJoin(F.broadcast(ta))
           .crossJoin(F.broadcast(tb))
           .crossJoin(F.broadcast(exact_union))
           .crossJoin(F.broadcast(exact_inter)))
    return out.select(
        "type_a", "type_b",
        F.expr(_est("a")).cast("bigint").alias("est_a"),
        F.expr(_est("b")).cast("bigint").alias("est_b"),
        F.expr(_est("u")).cast("bigint").alias("est_union"),
        F.expr(f"GREATEST(({_est('a')}) + ({_est('b')})"
               f" - ({_est('u')}), 0)").cast("bigint").alias("est_inter"),
        "exact_union", "exact_inter")


@query(
    "markov_two_step",
    """
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b
      FROM events),
    tr AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
           FROM seq WHERE b IS NOT NULL GROUP BY a, b),
    rt AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a
           FROM tr GROUP BY a),
    p1 AS (
      SELECT tr.a, tr.b,
             CAST(tr.n_ab * 1000000 // rt.n_a AS BIGINT) AS p_ppm
      FROM tr JOIN rt ON rt.a = tr.a),
    p2 AS (
      SELECT x.a, y.b,
             CAST(SUM(x.p_ppm * y.p_ppm) // 1000000 AS BIGINT)
               AS p2_ppm
      FROM p1 x JOIN p1 y ON y.a = x.b
      GROUP BY x.a, y.b)
    SELECT p2.a AS from_type, p2.b AS to_type, p2.p2_ppm,
           COALESCE(d.p_ppm, 0) AS p1_ppm
    FROM p2 LEFT JOIN p1 d ON d.a = p2.a AND d.b = p2.b
    """,
)
def q_markov_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step transition probabilities of the event-type Markov chain
    (P² in exact ppm, the single division AFTER the matrix-product sum
    so truncation is engine-identical) beside the one-step matrix —
    where does a user land two actions from now, and which indirect
    routes dominate their direct edge? The chain estimation is one
    user-keyed window + one (a,b) agg over the fact table; the matrix
    square runs on the TYPE-grain (~25 rows), never on events."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("b"))
    tr = (seq.filter(F.col("b").isNotNull())
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab")))
    rt = tr.groupBy("a").agg(F.sum("n_ab").cast("bigint").alias("n_a"))
    p1 = (tr.join(rt, "a")
          .select("a", "b", F.expr("n_ab * 1000000 div n_a")
                  .cast("bigint").alias("p_ppm")))
    x = p1.select(F.col("a").alias("xa"), F.col("b").alias("xb"),
                  F.col("p_ppm").alias("px"))
    y = p1.select(F.col("a").alias("ya"), F.col("b").alias("yb"),
                  F.col("p_ppm").alias("py"))
    p2 = (x.join(y, x["xb"] == y["ya"])
          .groupBy("xa", "yb")
          .agg(F.expr("SUM(px * py) div 1000000").cast("bigint")
               .alias("p2_ppm")))
    d = p1.select(F.col("a").alias("xa"), F.col("b").alias("yb"),
                  F.col("p_ppm").alias("p1d"))
    return (p2.join(d, ["xa", "yb"], "left")
            .select(F.col("xa").alias("from_type"),
                    F.col("yb").alias("to_type"), "p2_ppm",
                    F.coalesce("p1d", F.lit(0)).cast("bigint")
                    .alias("p1_ppm")))


@query(
    "json_key_presence",
    """
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    ks AS (
      SELECT unnest(CASE WHEN json_valid(props) THEN json_keys(props)
                         ELSE [] END) AS key_name,
             props
      FROM events),
    typed AS (
      SELECT key_name,
             CASE WHEN regexp_matches(
                    COALESCE(json_extract_string(props,
                             '$.' || key_name), ''),
                    '^-?[0-9]+$') THEN 1 ELSE 0 END AS is_int
      FROM ks)
    SELECT key_name,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(COUNT(*) * 10000 // tot.n AS BIGINT) AS presence_bp,
           CAST(SUM(is_int) AS BIGINT) AS n_int_values,
           CAST(SUM(1 - is_int) AS BIGINT) AS n_other_values
    FROM typed CROSS JOIN tot
    GROUP BY key_name, tot.n
    """,
)
def q_json_key_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema audit: which keys the JSON payload
    actually carries, how often, and whether their values stay integer
    — the drift report that catches a client silently renaming or
    re-typing a field long before a downstream cast fails. Malformed
    payloads contribute no keys (never an error); key explosion is
    bounded by payload size; one key-grain agg."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        F.coalesce(
            F.map_keys(F.from_json("props", "map<string,string>")),
            F.expr("CAST(array() AS array<string>)")).alias("keys"),
        F.from_json("props", "map<string,string>").alias("m"))
    ks = parsed.select(F.explode("keys").alias("key_name"), "m")
    typed = ks.select(
        "key_name",
        F.expr("CASE WHEN COALESCE(m[key_name], '')"
               " RLIKE '^-?[0-9]+$' THEN 1 ELSE 0 END").alias("is_int"))
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (typed.crossJoin(F.broadcast(tot))
            .groupBy("key_name", "n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_present"),
                 F.expr("COUNT(*) * 10000 div n").cast("bigint")
                 .alias("presence_bp"),
                 F.sum("is_int").cast("bigint").alias("n_int_values"),
                 F.sum(F.lit(1) - F.col("is_int")).cast("bigint")
                 .alias("n_other_values"))
            .select("key_name", "n_present", "presence_bp",
                    "n_int_values", "n_other_values"))


@query(
    "static_cache_hit",
    """
    WITH acc AS (
      SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM acc),
    ranked AS (
      SELECT p, n, ROW_NUMBER() OVER (ORDER BY n DESC, p) AS rk
      FROM acc),
    frame AS (SELECT unnest([10, 20, 50]) AS k)
    SELECT frame.k,
           CAST(SUM(CASE WHEN ranked.rk <= frame.k THEN ranked.n
                    ELSE 0 END) AS BIGINT) AS hits,
           tot.total AS total_accesses,
           CAST(SUM(CASE WHEN ranked.rk <= frame.k THEN ranked.n
                    ELSE 0 END) * 10000 // tot.total AS BIGINT)
             AS hit_bp
    FROM frame CROSS JOIN ranked CROSS JOIN tot
    GROUP BY frame.k, tot.total
    """,
)
def q_static_cache_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-cache hit-rate curve: if the k most-accessed parts were
    pinned in cache (k = 10/20/50), what share of all accesses would
    hit — the Zipf-exploiting capacity-planning number behind every
    'do we need a bigger cache tier' decision. Access counts are one
    fact-table agg; ranking and the k-frame sweep run on the PART
    grain with a 3-row broadcast frame."""
    li = _t(spark, sf_dir, "lineitem")
    acc = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = acc.agg(F.sum("n").cast("bigint").alias("total"))
    ranked = acc.select(
        "p", "n",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), "p")).alias("rk"))
    frame = spark.createDataFrame([(10,), (20,), (50,)], ["k"])
    return (F.broadcast(frame).crossJoin(ranked)
            .crossJoin(F.broadcast(tot))
            .groupBy("k", "total")
            .agg(F.sum(F.expr("CASE WHEN rk <= k THEN n ELSE 0 END"))
                 .cast("bigint").alias("hits"),
                 F.expr("SUM(CASE WHEN rk <= k THEN n ELSE 0 END)"
                        " * 10000 div total").cast("bigint")
                 .alias("hit_bp"))
            .select("k", "hits", F.col("total").alias("total_accesses"),
                    "hit_bp"))


@query(
    "merge_into_actions",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 10 != 0),
    upd AS (
      SELECT o_orderkey AS k,
             'U' AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500 AS cents,
             CAST(CASE WHEN o_orderkey % 9 = 0 THEN 1 ELSE 0 END AS INT)
               AS is_delete
      FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT COALESCE(b.k, u.k) AS k,
             CASE WHEN b.k IS NOT NULL AND u.k IS NOT NULL
                       AND u.is_delete = 1 THEN 'delete'
                  WHEN b.k IS NOT NULL AND u.k IS NOT NULL
                    THEN 'update'
                  WHEN b.k IS NULL AND u.is_delete = 0 THEN 'insert'
                  WHEN b.k IS NULL THEN 'ignore'
                  ELSE 'keep' END AS action,
             CASE WHEN u.k IS NOT NULL AND COALESCE(u.is_delete, 0) = 0
                    THEN u.cents ELSE b.cents END AS out_cents
      FROM base b FULL OUTER JOIN upd u ON u.k = b.k)
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN action IN
                  ('keep', 'update', 'insert') THEN out_cents END), 0)
                AS BIGINT) AS surviving_cents
    FROM merged GROUP BY action
    """,
)
def q_merge_into_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE INTO semantics (the lakehouse upsert): a base
    table and an updates batch (with delete markers) resolve through
    one FULL OUTER JOIN into the five MERGE actions — update, delete,
    insert, keep, and the ignore lane for deletes that match nothing
    (surfaced, never silently dropped). Action counts plus the exact
    surviving-cents total make the result balance-checkable against the
    inputs. One key-keyed join — the same shape Iceberg/Delta MERGE
    compiles to, with AQE free to broadcast the small batch side."""
    orders = _t(spark, sf_dir, "orders")
    base = (orders.filter(F.col("o_orderkey") % 10 != 0)
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("status"),
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("cents")))
    upd = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .select(F.col("o_orderkey").alias("k"),
                   (F.round(F.col("o_totalprice") * 100).cast("bigint")
                    + 500).alias("ucents"),
                   (F.col("o_orderkey") % 9 == 0).cast("int")
                   .alias("is_delete")))
    m = (base.withColumnRenamed("k", "bk")
         .join(upd.withColumnRenamed("k", "uk"),
               F.col("bk") == F.col("uk"), "full_outer"))
    merged = m.select(
        F.expr(
            "CASE WHEN bk IS NOT NULL AND uk IS NOT NULL"
            " AND is_delete = 1 THEN 'delete'"
            " WHEN bk IS NOT NULL AND uk IS NOT NULL THEN 'update'"
            " WHEN bk IS NULL AND is_delete = 0 THEN 'insert'"
            " WHEN bk IS NULL THEN 'ignore'"
            " ELSE 'keep' END").alias("action"),
        F.expr("CASE WHEN uk IS NOT NULL AND COALESCE(is_delete, 0) = 0"
               " THEN ucents ELSE cents END").alias("out_cents"))
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(F.when(F.col("action").isin(
            "keep", "update", "insert"), F.col("out_cents"))),
            F.lit(0)).cast("bigint").alias("surviving_cents"))


@query(
    "naive_bayes_lang",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    t2 AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
    trn AS (SELECT * FROM t2 WHERE doc_id % 5 != 0),
    tst AS (SELECT doc_id, lang AS true_lang, w FROM t2
            WHERE doc_id % 5 = 0),
    wc AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM trn GROUP BY lang, w),
    tcls AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM wc
             GROUP BY lang),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM trn),
    nd AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
           FROM trn GROUP BY lang),
    ntot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM nd),
    params AS (
      SELECT tcls.lang,
             CAST(ROUND(ln(CAST(1 AS DOUBLE) / (tcls.t + vv.v))
                  * 1000000) AS BIGINT) AS def_micro,
             CAST(ROUND(ln(CAST(nd.n AS DOUBLE) / ntot.nt) * 1000000)
                  AS BIGINT) AS prior_micro
      FROM tcls JOIN nd ON nd.lang = tcls.lang
      CROSS JOIN vv CROSS JOIN ntot),
    wgt AS (
      SELECT wc.lang, wc.w,
             CAST(ROUND(ln(CAST(wc.c + 1 AS DOUBLE) / (tcls.t + vv.v))
                  * 1000000) AS BIGINT) AS wm
      FROM wc JOIN tcls ON tcls.lang = wc.lang CROSS JOIN vv),
    dt AS (SELECT doc_id, true_lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tst GROUP BY doc_id, true_lang, w),
    grid AS (
      SELECT dt.doc_id, dt.true_lang, p.lang, dt.cnt,
             COALESCE(wgt.wm, p.def_micro) AS wm, p.prior_micro
      FROM dt CROSS JOIN params p
      LEFT JOIN wgt ON wgt.lang = p.lang AND wgt.w = dt.w),
    sc AS (
      SELECT doc_id, true_lang, lang,
             CAST(MAX(prior_micro) + SUM(cnt * wm) AS BIGINT) AS s
      FROM grid GROUP BY doc_id, true_lang, lang),
    mx AS (SELECT doc_id, MAX(s) AS ms FROM sc GROUP BY doc_id),
    pred AS (
      SELECT sc.doc_id, sc.true_lang,
             MIN(CASE WHEN sc.s = mx.ms THEN sc.lang END) AS pred_lang
      FROM sc JOIN mx ON mx.doc_id = sc.doc_id
      GROUP BY sc.doc_id, sc.true_lang)
    SELECT true_lang,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS acc_bp
    FROM pred GROUP BY true_lang
    """,
)
def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained multinomial Naive Bayes language classifier with add-1
    smoothing, residue-split train/test (doc_id%5), evaluated per true
    language — the LEARNED companion to the heuristic lang_id: all
    probabilities live as exact BIGINT micro-nats (one ln per DISTINCT
    (class, word) parameter — the repo's cross-engine determinism
    convention), so per-doc score sums are integer and order-free, and
    the argmax (ties to the smallest language code) is bit-stable.
    Scale shape: training is one (class, word) agg with map-side
    partials; scoring fans each test token across the ≤n_langs
    broadcast parameter rows — linear in test tokens, the textbook
    distributed NB. Test docs with zero tokens are out of scope by
    construction (no token rows)."""
    docs = _cpu(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", "lang",
                       F.explode(F.split(F.lower("text"), " "))
                       .alias("w"))
           .filter(F.col("w") != ""))
    # trn feeds wc, vv, and nd — measured A/B: re-scanning the cheap
    # split+explode three times beats materializing the token frame
    # (3.9s vs 4.5s at sf0.1), so no persist here, unlike modularity's
    # iterative-chain reuse where persist is 6x
    trn = tok.filter(F.col("doc_id") % 5 != 0)
    tst = (tok.filter(F.col("doc_id") % 5 == 0)
           .withColumnRenamed("lang", "true_lang"))
    wc = trn.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    tcls = wc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("t"))
    vv = trn.agg(F.countDistinct("w").cast("bigint").alias("v"))
    nd = trn.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n"))
    ntot = nd.agg(F.sum("n").cast("bigint").alias("nt"))
    params = (tcls.join(nd, "lang")
              .crossJoin(F.broadcast(vv))
              .crossJoin(F.broadcast(ntot))
              .select(
                  "lang", "t", "v",
                  F.round(F.log(F.lit(1.0) / (F.col("t") + F.col("v")))
                          * 1000000).cast("bigint").alias("def_micro"),
                  F.round(F.log(F.col("n").cast("double") / F.col("nt"))
                          * 1000000).cast("bigint")
                  .alias("prior_micro")))
    wgt = (wc.join(tcls, "lang").crossJoin(F.broadcast(vv))
           .select("lang", "w",
                   F.round(F.log((F.col("c") + 1).cast("double")
                                 / (F.col("t") + F.col("v")))
                           * 1000000).cast("bigint").alias("wm")))
    dt = tst.groupBy("doc_id", "true_lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    p = params.select(F.col("lang").alias("plang"), "def_micro",
                      "prior_micro")
    g = (dt.crossJoin(F.broadcast(p))
         .join(wgt.select(F.col("lang").alias("plang"),
                          F.col("w").alias("w"), "wm"),
               ["plang", "w"], "left")
         .select("doc_id", "true_lang", F.col("plang").alias("lang"),
                 "cnt", F.coalesce("wm", F.col("def_micro")).alias("wm"),
                 "prior_micro"))
    sc = g.groupBy("doc_id", "true_lang", "lang").agg(
        (F.max("prior_micro") + F.sum(F.col("cnt") * F.col("wm")))
        .cast("bigint").alias("s"))
    mx = sc.groupBy("doc_id").agg(F.max("s").alias("ms"))
    pred = (sc.join(mx, "doc_id")
            .groupBy("doc_id", "true_lang")
            .agg(F.min(F.when(F.col("s") == F.col("ms"),
                              F.col("lang"))).alias("pred_lang")))
    return pred.groupBy("true_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.expr("CASE WHEN pred_lang = true_lang THEN 1 ELSE 0"
                     " END")).cast("bigint").alias("n_correct"),
        F.expr("SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)"
               " * 10000 div COUNT(*)").cast("bigint").alias("acc_bp"))


@query(
    "edge_embeddedness",
    f"""
    WITH {_HOST_EDGES_SQL},
    sym AS (SELECT DISTINCT src AS u, dst AS v FROM (
              SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
            WHERE src != dst),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    common AS (
      SELECT und.a, und.b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM und
      JOIN sym na ON na.u = und.a
      JOIN sym nb ON nb.u = und.b AND nb.v = na.v
      WHERE na.v != und.a AND na.v != und.b
      GROUP BY und.a, und.b)
    SELECT und.a, und.b,
           COALESCE(common.n_common, 0) AS n_common,
           CAST(CASE WHEN COALESCE(common.n_common, 0) = 0
                THEN 1 ELSE 0 END AS INT) AS is_local_bridge
    FROM und LEFT JOIN common ON common.a = und.a AND common.b = und.b
    """,
)
def q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness (common-neighbor count per edge — the truss-
    decomposition support number) with the Granovetter local-bridge
    flag: an edge whose endpoints share NO neighbor is the only route
    between its neighborhoods, which on a web graph marks genuine
    cross-community links versus the densely embedded intra-mirror
    mesh. Two neighbor-keyed hash joins bounded by endpoint degrees —
    the per-edge refinement of triangle_count's per-node totals."""
    edges = _host_edges(spark, sf_dir)
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst")).distinct()
           .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    na = sym.select(F.col("u").alias("a"), F.col("v").alias("c"))
    nb = sym.select(F.col("u").alias("b"), F.col("v").alias("c"))
    common = (und.join(na, "a").join(nb, ["b", "c"])
              .filter((F.col("c") != F.col("a"))
                      & (F.col("c") != F.col("b")))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    return (und.join(common, ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce("n_common", F.lit(0)).cast("bigint")
                    .alias("n_common"),
                    F.expr("CAST(CASE WHEN COALESCE(n_common, 0) = 0"
                           " THEN 1 ELSE 0 END AS INT)")
                    .alias("is_local_bridge")))


@query(
    "cluster_purity",
    f"""
    WITH {_kmeans_assign_cte()},
    lab AS (SELECT vec_id, label FROM embeddings),
    cl AS (
      SELECT a.cell, l.label, CAST(COUNT(*) AS BIGINT) AS c
      FROM assigned a JOIN lab l ON l.vec_id = a.nid
      GROUP BY a.cell, l.label),
    tot AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n FROM cl
            GROUP BY cell),
    mx AS (SELECT cell, MAX(c) AS mc FROM cl GROUP BY cell),
    maj AS (
      SELECT cl.cell,
             MIN(CASE WHEN cl.c = mx.mc THEN cl.label END)
               AS majority_label,
             MAX(mx.mc) AS n_majority
      FROM cl JOIN mx ON mx.cell = cl.cell
      GROUP BY cl.cell)
    SELECT maj.cell,
           tot.n AS n_members,
           CAST(maj.majority_label AS INT) AS majority_label,
           CAST(maj.n_majority AS BIGINT) AS n_majority,
           CAST(maj.n_majority * 10000 // tot.n AS BIGINT) AS purity_bp
    FROM maj JOIN tot ON tot.cell = maj.cell
    """,
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the k-means-trained IVF cells: per cell, the
    majority label's share in exact bp (ties to the smallest label) —
    the unsupervised-vs-supervised agreement check that tells you
    whether the coarse quantizer's geometry respects the label
    structure (high purity → cluster-level curation decisions like
    SemDeDup pruning are safe; low purity → the embedding space mixes
    classes and per-cluster ops will bleed). Reuses the exact trained
    assignment of ivf_topk, so the audited object IS the production
    quantizer. One id-keyed label join + cell-grain aggregates."""
    emb = _cpu(spark, sf_dir, "embeddings")
    cents = similarity.train_centroids(emb, "vec_id", "embedding")
    asg = similarity.ivf_assign(emb, "vec_id", "embedding",
                                centroids=cents)
    lab = emb.select(F.col("vec_id").alias("nid"), "label")
    cl = (asg.join(lab, "nid")
          .groupBy("cell", "label")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = cl.groupBy("cell").agg(F.sum("c").cast("bigint").alias("n"))
    maj = (cl.groupBy("cell")
           .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))
                .alias("b"))
           .select("cell", (-F.col("b.nl")).cast("int")
                   .alias("majority_label"),
                   F.col("b.c").cast("bigint").alias("n_majority")))
    return (maj.join(tot, "cell")
            .select("cell", F.col("n").alias("n_members"),
                    "majority_label", "n_majority",
                    F.expr("n_majority * 10000 div n").cast("bigint")
                    .alias("purity_bp")))


@query(
    "average_precision",
    """
    WITH scored AS (
      SELECT doc_id AS doc,
             CAST((doc_id * 37 + 11) % 100 AS BIGINT)
               + CASE WHEN doc_id % 3 = 0 THEN 60 ELSE 0 END AS score,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
               AS y
      FROM documents),
    ranked AS (
      SELECT doc, score, y,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rk,
             SUM(y) OVER (ORDER BY score DESC, doc
                          ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM scored),
    np AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos FROM scored)
    SELECT np.n_pos,
           CAST((SELECT COUNT(*) FROM scored) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN y = 1
                    THEN cum_pos * 1000000 // rk ELSE 0 END)
                // np.n_pos AS BIGINT) AS ap_micro
    FROM ranked CROSS JOIN np
    GROUP BY np.n_pos
    """,
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve area as rankers actually compute
    it: mean of precision@rank over the positive rows) for a
    deterministic synthetic scorer against the doc_id%3 label —
    companion to the ROC-AUC (quality_auc) on the metric where class
    imbalance actually bites. Exact integers throughout: the ranking is
    totally ordered (score, doc), precision@k is one truncating
    division per positive in micro-units, the mean one more. One
    global-ordering window — at corpus scale, the same two-stage
    shard-then-merge top-k the repo's other global ranks document."""
    docs = _cpu(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id").alias("doc"),
        ((F.col("doc_id") * 37 + 11) % 100
         + F.when(F.col("doc_id") % 3 == 0, 60).otherwise(0))
        .cast("bigint").alias("score"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"))
    w = Window.orderBy(F.col("score").desc(), "doc")
    ranked = scored.select(
        "doc", "score", "y",
        F.row_number().over(w).alias("rk"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_pos"))
    np_ = scored.agg(F.sum("y").cast("bigint").alias("n_pos"),
                     F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (ranked.crossJoin(F.broadcast(np_))
            .groupBy("n_pos", "n_total")
            .agg(F.expr("SUM(CASE WHEN y = 1 THEN cum_pos * 1000000"
                        " div rk ELSE 0 END) div n_pos").cast("bigint")
                 .alias("ap_micro"))
            .select("n_pos", "n_total", "ap_micro"))


@query(
    "transition_entropy",
    """
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b
      FROM events),
    tr AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM seq WHERE b IS NOT NULL GROUP BY a, b),
    rt AS (SELECT a, CAST(SUM(c) AS BIGINT) AS n FROM tr GROUP BY a),
    ent AS (
      SELECT tr.a,
             CAST(MAX(rt.n) AS BIGINT) AS n_transitions,
             CAST(COUNT(*) AS BIGINT) AS n_successors,
             CAST(SUM(tr.c * CAST(ROUND(ln(CAST(rt.n AS DOUBLE) / tr.c)
                  * 1000000) AS BIGINT)) // MAX(rt.n) AS BIGINT)
               AS h_micro_nats
      FROM tr JOIN rt ON rt.a = tr.a GROUP BY tr.a)
    SELECT a AS event_type, n_transitions, n_successors, h_micro_nats
    FROM ent
    """,
)
def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy H(next | current) per event type
    in exact integer micro-nats (the repo's ln-of-exact-ratio
    convention; the weighted sum is integer and order-free, ONE
    truncating division per type) — the navigation-predictability
    number: H near 0 means the next step is scripted (bot or funnel),
    H near ln(K) means the UI is a coin flip from here. Shares the
    chain-estimation shape with markov_two_step: one user-keyed window
    + one (a,b) agg; entropy folds on the ~25-row type grain."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("b"))
    tr = (seq.filter(F.col("b").isNotNull())
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    rt = tr.groupBy("a").agg(F.sum("c").cast("bigint").alias("n"))
    term = (F.col("c") * F.round(
        F.log(F.col("n").cast("double") / F.col("c")) * 1000000)
        .cast("bigint"))
    return (tr.join(rt, "a")
            .groupBy("a")
            .agg(F.max("n").cast("bigint").alias("n_transitions"),
                 F.count(F.lit(1)).cast("bigint").alias("n_successors"),
                 F.expr(f"SUM(c * CAST(ROUND(ln(CAST(n AS DOUBLE) / c)"
                        f" * 1000000) AS BIGINT)) div MAX(n)")
                 .cast("bigint").alias("h_micro_nats"))
            .select(F.col("a").alias("event_type"), "n_transitions",
                    "n_successors", "h_micro_nats"))


@query(
    "length_histogram_overlap",
    """
    WITH b AS (
      SELECT source, LEAST(n_chars // 100, 19) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, LEAST(n_chars // 100, 19)),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM b
            GROUP BY source),
    pairs AS (
      SELECT x.source AS source_a, y.source AS source_b,
             x.bucket,
             x.c AS ca, y.c AS cb, tx.n AS na, ty.n AS nb
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.source < y.source
      JOIN tot tx ON tx.source = x.source
      JOIN tot ty ON ty.source = y.source)
    SELECT source_a, source_b,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM(LEAST(ca * nb, cb * na)) * 10000
                // (MAX(na) * MAX(nb)) AS BIGINT) AS overlap_bp
    FROM pairs GROUP BY source_a, source_b
    """,
)
def q_length_histogram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-intersection similarity between sources'
    document-length distributions (Σ min(p_i, q_i), the L1 complement
    of total-variation distance) in exact bp — min over
    cross-multiplied integer counts, one division per pair, so no
    float shares anywhere. The drift metric that says WHERE two feeds
    differ in shape, complementing ks_drift's max-gap view; overlap
    collapsing after an ingestion change is the classic truncation/
    boilerplate regression signal. Bucket-grain join over (source,
    20-bucket) cells — never row-level."""
    docs = _t(spark, sf_dir, "documents")
    b = (docs.select("source",
                     F.expr("LEAST(n_chars div 100, 19)")
                     .cast("bigint").alias("bucket"))
         .groupBy("source", "bucket")
         .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = b.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    x = (b.join(tot, "source")
         .select(F.col("source").alias("source_a"), "bucket",
                 F.col("c").alias("ca"), F.col("n").alias("na")))
    y = (b.join(tot, "source")
         .select(F.col("source").alias("source_b"), "bucket",
                 F.col("c").alias("cb"), F.col("n").alias("nb")))
    pairs = x.join(y, ["bucket"]).filter(
        F.col("source_a") < F.col("source_b"))
    return (pairs.groupBy("source_a", "source_b")
            .agg(F.max("na").cast("bigint").alias("n_a"),
                 F.max("nb").cast("bigint").alias("n_b"),
                 F.expr("SUM(LEAST(ca * nb, cb * na)) * 10000"
                        " div (MAX(na) * MAX(nb))").cast("bigint")
                 .alias("overlap_bp")))


@query(
    "dq_checkpanel",
    """
    WITH pk_o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v
      FROM orders),
    pk_c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS v
      FROM customer),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v
      FROM lineitem l LEFT JOIN orders o
        ON o.o_orderkey = l.l_orderkey),
    shp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                      THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    neg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v
      FROM orders),
    npr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL
                        OR o_orderpriority = '' THEN 1 ELSE 0 END)
                  AS BIGINT) AS v
      FROM orders),
    u AS (
      SELECT 'pk_orders_unique' AS check_name, n, v FROM pk_o
      UNION ALL SELECT 'pk_customer_unique', n, v FROM pk_c
      UNION ALL SELECT 'fk_lineitem_has_order', n, v FROM fk
      UNION ALL SELECT 'ship_not_before_order', n, v FROM shp
      UNION ALL SELECT 'price_non_negative', n, v FROM neg
      UNION ALL SELECT 'priority_present', n, v FROM npr)
    SELECT check_name, n AS n_checked, v AS n_violations,
           CAST(v * 1000000 // GREATEST(n, 1) AS BIGINT)
             AS violation_ppm,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT) AS passed
    FROM u
    """,
)
def q_dq_checkpanel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality check panel (the Great-Expectations-style suite a
    warehouse runs after every load): primary-key uniqueness on two
    tables, lineitem→orders referential integrity, the temporal
    invariant ship-date >= order-date, value-domain (non-negative
    price), and completeness (priority present) — each reported as
    checked/violations/ppm/passed so the panel is monotone-mergeable
    across partitions and days. Each check is one aggregate or one
    key-keyed join; violations are counted, never silently dropped."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")

    def one(name, df):
        return df.select(F.lit(name).alias("check_name"),
                         F.col("n"), F.col("v"))

    pk_o = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint").alias("v"))
    pk_c = customer.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
        .cast("bigint").alias("v"))
    fk = (li.join(orders.select("o_orderkey"),
                  li["l_orderkey"] == F.col("o_orderkey"), "left")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
               F.sum(F.col("o_orderkey").isNull().cast("bigint"))
               .cast("bigint").alias("v")))
    shp = (li.join(orders.select("o_orderkey", "o_orderdate"),
                   li["l_orderkey"] == F.col("o_orderkey"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum((F.col("l_shipdate") < F.col("o_orderdate"))
                      .cast("bigint")).cast("bigint").alias("v")))
    neg = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("o_totalprice") < 0).cast("bigint"))
        .cast("bigint").alias("v"))
    npr = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("o_orderpriority").isNull()
               | (F.col("o_orderpriority") == "")).cast("bigint"))
        .cast("bigint").alias("v"))
    u = (one("pk_orders_unique", pk_o)
         .unionByName(one("pk_customer_unique", pk_c))
         .unionByName(one("fk_lineitem_has_order", fk))
         .unionByName(one("ship_not_before_order", shp))
         .unionByName(one("price_non_negative", neg))
         .unionByName(one("priority_present", npr)))
    return u.select(
        "check_name",
        F.col("n").alias("n_checked"),
        F.col("v").alias("n_violations"),
        F.expr("v * 1000000 div GREATEST(n, 1)").cast("bigint")
        .alias("violation_ppm"),
        F.expr("CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT)")
        .alias("passed"))


@query(
    "weighted_median",
    """
    WITH rows_ AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem),
    cum AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag
                          ORDER BY cents, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM rows_),
    tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS tw FROM rows_
            GROUP BY flag),
    crossers AS (
      SELECT cum.flag, cum.cents, cum.cw
      FROM cum JOIN tot ON tot.flag = cum.flag
      WHERE 2 * cum.cw >= tot.tw),
    pick AS (
      SELECT flag, MIN(cw) AS mcw FROM crossers GROUP BY flag)
    SELECT c.flag AS l_returnflag, t.tw AS total_weight,
           CAST(MIN(c.cents) AS BIGINT) AS weighted_median_cents
    FROM crossers c
    JOIN pick p ON p.flag = c.flag AND c.cw = p.mcw
    JOIN tot t ON t.flag = c.flag
    GROUP BY c.flag, t.tw
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag — the
    robust center a plain median gets wrong when one line carries 50
    units and another 1: the first value whose cumulative weight
    reaches half the total, on a TOTALLY ordered cumulative (price,
    orderkey, linenumber) so both engines cross at the identical row.
    One flag-keyed window + two flag-grain joins; all integer cents
    and weights, no interpolation anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey", "l_linenumber")
    w = (Window.partitionBy("flag")
         .orderBy("cents", "l_orderkey", "l_linenumber")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = rows_.select("flag", "cents", "w",
                       F.sum("w").over(w).alias("cw"))
    tot = rows_.groupBy("flag").agg(
        F.sum("w").cast("bigint").alias("tw"))
    crossers = (cum.join(tot, "flag")
                .filter(2 * F.col("cw") >= F.col("tw")))
    pick = crossers.groupBy("flag").agg(F.min("cw").alias("mcw"))
    return (crossers.join(pick, "flag")
            .filter(F.col("cw") == F.col("mcw"))
            .groupBy("flag", "tw")
            .agg(F.min("cents").cast("bigint")
                 .alias("weighted_median_cents"))
            .select(F.col("flag").alias("l_returnflag"),
                    F.col("tw").alias("total_weight"),
                    "weighted_median_cents"))


@query(
    "revenue_run_extremes",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(r) AS BIGINT) AS s FROM daily),
    x AS (SELECT day, r * st.n - st.s AS v FROM daily CROSS JOIN st),
    pref0 AS (
      SELECT day, v,
             SUM(v) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p
      FROM x),
    pref AS (
      SELECT day, p,
             MIN(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) AS rmin,
             MAX(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) AS rmax
      FROM pref0),
    cand AS (
      SELECT day,
             p - LEAST(COALESCE(rmin, 0), 0) AS best_end,
             p - GREATEST(COALESCE(rmax, 0), 0) AS worst_end
      FROM pref),
    agg AS (
      SELECT MAX(best_end) AS best, MIN(worst_end) AS worst FROM cand)
    SELECT st.n AS n_days,
           CAST(agg.best AS BIGINT) AS best_run_scaled,
           strftime((SELECT MIN(day) FROM cand
                     WHERE best_end = agg.best), '%Y-%m-%d')
             AS best_run_end,
           CAST(agg.worst AS BIGINT) AS worst_run_scaled,
           strftime((SELECT MIN(day) FROM cand
                     WHERE worst_end = agg.worst), '%Y-%m-%d')
             AS worst_run_end
    FROM agg CROSS JOIN st
    """,
)
def q_revenue_run_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kadane's maximum-subarray as two window passes: the best and
    worst CONSECUTIVE-day revenue runs relative to the average day —
    daily cents are mean-centered exactly by scaling (r·N − S, a
    sum-zero integer series, no fractional mean), the classic
    prefix-minus-running-extreme identity finds both extremes, and ties
    resolve to the earliest end day. Values are in cents×N units
    (documented — dividing by N would truncate information). The
    hot-streak / drawdown detector over any KPI series; day-grain
    windows only."""
    orders = _t(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.col("o_orderdate").cast("date")
                            .alias("day"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")).cast("bigint").alias("r")))
    st = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum("r").cast("bigint").alias("s"))
    x = daily.crossJoin(F.broadcast(st)).select(
        "day", (F.col("r") * F.col("n") - F.col("s")).alias("v"), "n")
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0)
    wprev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1)
    pref = x.select(
        "day", "n",
        F.sum("v").over(wp).alias("p"))
    pref2 = pref.select(
        "day", "n", "p",
        F.min("p").over(wprev).alias("rmin"),
        F.max("p").over(wprev).alias("rmax"))
    cand = pref2.select(
        "day", "n",
        (F.col("p") - F.least(F.coalesce("rmin", F.lit(0)), F.lit(0)))
        .alias("best_end"),
        (F.col("p") - F.greatest(F.coalesce("rmax", F.lit(0)),
                                 F.lit(0))).alias("worst_end"))
    agg = cand.agg(F.max("best_end").alias("best"),
                   F.min("worst_end").alias("worst"))
    j = cand.crossJoin(F.broadcast(agg))
    best_day = (j.filter(F.col("best_end") == F.col("best"))
                .agg(F.min("day").alias("bd")))
    worst_day = (j.filter(F.col("worst_end") == F.col("worst"))
                 .agg(F.min("day").alias("wd")))
    return (agg.crossJoin(F.broadcast(st))
            .crossJoin(F.broadcast(best_day))
            .crossJoin(F.broadcast(worst_day))
            .select(F.col("n").alias("n_days"),
                    F.col("best").cast("bigint")
                    .alias("best_run_scaled"),
                    F.date_format("bd", "yyyy-MM-dd")
                    .alias("best_run_end"),
                    F.col("worst").cast("bigint")
                    .alias("worst_run_scaled"),
                    F.date_format("wd", "yyyy-MM-dd")
                    .alias("worst_run_end")))


_ER_CONS = "bcdfgjklmnpqrst"


@query(
    "entity_resolution_pass",
    f"""
    WITH recs AS (
      SELECT c_custkey AS k,
             substr('{_ER_CONS}', c_custkey % 40 % 15 + 1, 1)
               || substr('{_ER_CONS}', c_custkey % 40 % 15 + 1, 1)
               || substr('aei', (c_custkey // 40) % 3 + 1, 1)
               || substr('{_ER_CONS}', (c_custkey % 40 // 15) % 15 + 1, 1)
               || substr('{_ER_CONS}', (c_custkey % 40 // 15) % 15 + 1, 1)
               || 'o' AS name,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer),
    sx0 AS (
      SELECT k, name, cents, upper(name) AS uw FROM recs),
    sx1 AS (
      SELECT k, name, cents, substr(uw, 1, 1) AS first,
             translate(uw, '{_SOUNDEX_TR_FROM}', '{_SOUNDEX_TR_TO}')
               AS dig
      FROM sx0),
    sx2 AS (
      SELECT k, name, cents, first,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(dig,
                 '0{{2,}}', '0', 'g'), '1{{2,}}', '1', 'g'),
                 '2{{2,}}', '2', 'g'), '3{{2,}}', '3', 'g'),
                 '4{{2,}}', '4', 'g'), '5{{2,}}', '5', 'g'),
                 '6{{2,}}', '6', 'g') AS dig
      FROM sx1),
    sx AS (
      SELECT k, name, cents,
             first || substr(rpad(replace(
               CASE WHEN first IN ('H', 'W') THEN dig
                    ELSE substr(dig, 2) END, '0', ''), 3, '0'), 1, 3)
               AS blk
      FROM sx2),
    pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM sx a JOIN sx b
        ON a.blk = b.blk AND a.k < b.k
           AND levenshtein(a.name, b.name) <= 1),
    nbr AS (
      SELECT ka AS k, kb AS n FROM pairs
      UNION ALL SELECT kb, ka FROM pairs
      UNION ALL SELECT k, k FROM sx),
    l1 AS (SELECT k, MIN(n) AS lbl FROM nbr GROUP BY k),
    l2 AS (
      SELECT nbr.k, MIN(l1.lbl) AS lbl
      FROM nbr JOIN l1 ON l1.k = nbr.n GROUP BY nbr.k),
    ent AS (
      SELECT l2.lbl AS entity_id,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             CAST(SUM(sx.cents) AS BIGINT) AS total_acctbal_cents
      FROM l2 JOIN sx ON sx.k = l2.k GROUP BY l2.lbl)
    SELECT ent.entity_id, ent.n_records,
           sx.name AS canonical_name, ent.total_acctbal_cents
    FROM ent JOIN sx ON sx.k = ent.entity_id
    """,
)
def q_entity_resolution_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (the MDM pass, composed from this
    repo's primitives the way dedup_decide composes the near-dup
    stack): deterministic name variants are synthesized per customer
    (three vowel-alternation spellings per surname family — same
    Soundex skeleton, pairwise edit distance 1), then blocked by
    Soundex, verified with JVM levenshtein <= 1 INSIDE blocks only,
    clustered by two min-label rounds (families are complete graphs,
    so one round converges; two are run and the test pins the result),
    and merged with survivorship rules (min-key canonical record,
    exact summed balances). The verify join is block-bounded — the
    blocking keys cap candidate pairs exactly as the LSH bands do for
    documents; nothing is ever all-pairs."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    r1 = F.expr(f"substr('{_ER_CONS}', CAST(c_custkey % 40 % 15 + 1"
                " AS INT), 1)")
    r2 = F.expr(f"substr('{_ER_CONS}', CAST((c_custkey % 40 div 15)"
                " % 15 + 1 AS INT), 1)")
    vw = F.expr("substr('aei', CAST((c_custkey div 40) % 3 + 1"
                " AS INT), 1)")
    recs = cust.select(
        k.alias("k"),
        F.concat(r1, r1, vw, r2, r2, F.lit("o")).alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"))
    d0 = recs.select(
        "k", "name", "cents",
        F.substring(F.upper("name"), 1, 1).alias("first"),
        F.translate(F.upper("name"), _SOUNDEX_TR_FROM, _SOUNDEX_TR_TO)
        .alias("dig"))
    dig = F.col("dig")
    for c in "0123456":
        dig = F.regexp_replace(dig, c + "{2,}", c)
    sx = d0.select("k", "name", "cents", dig.alias("dig"), "first") \
        .select(
            "k", "name", "cents",
            F.concat(
                F.col("first"),
                F.substring(F.rpad(F.expr(
                    "replace(CASE WHEN first IN ('H', 'W') THEN dig"
                    " ELSE substr(dig, 2) END, '0', '')"), 3, "0"),
                    1, 3)).alias("blk"))
    a = sx.select(F.col("k").alias("ka"), F.col("name").alias("na"),
                  F.col("blk").alias("blk"))
    b = sx.select(F.col("k").alias("kb"), F.col("name").alias("nb"),
                  F.col("blk").alias("blk"))
    pairs = (a.join(b, "blk")
             .filter((F.col("ka") < F.col("kb"))
                     & (F.levenshtein("na", "nb") <= 1))
             .select("ka", "kb"))
    nbr = (pairs.select(F.col("ka").alias("k"), F.col("kb").alias("n"))
           .unionByName(pairs.select(F.col("kb").alias("k"),
                                     F.col("ka").alias("n")))
           .unionByName(sx.select(F.col("k"), F.col("k").alias("n"))))
    l1 = nbr.groupBy("k").agg(F.min("n").alias("lbl"))
    l2 = (nbr.join(l1.select(F.col("k").alias("n"), "lbl"), "n")
          .groupBy("k").agg(F.min("lbl").alias("lbl")))
    ent = (l2.join(sx.select("k", "cents"), "k")
           .groupBy("lbl")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"),
                F.sum("cents").cast("bigint")
                .alias("total_acctbal_cents")))
    return (ent.join(sx.select(F.col("k").alias("lbl"),
                               F.col("name").alias("canonical_name")),
                     "lbl")
            .select(F.col("lbl").alias("entity_id"), "n_records",
                    "canonical_name", "total_acctbal_cents"))


@query(
    "degree_h_index",
    f"""
    WITH {_HOST_EDGES_SQL},
    ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS indeg
            FROM e GROUP BY dst),
    ranked AS (
      SELECT node, indeg,
             ROW_NUMBER() OVER (ORDER BY indeg DESC, node) AS rk
      FROM ind)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
           CAST(COALESCE(MAX(CASE WHEN indeg >= rk THEN rk END), 0)
                AS BIGINT) AS h_index,
           CAST(MAX(indeg) AS BIGINT) AS max_indeg
    FROM ranked
    """,
)
def q_degree_h_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hirsch h-index of the host in-link distribution — the largest h
    such that h hosts each have at least h in-links: one number that is
    robust to both the mega-hub (max doesn't move it) and the long tail
    (count doesn't move it), which is why it summarizes authority
    concentration better than either. One degree agg + one ordered
    window over the host grain."""
    edges = _host_edges(spark, sf_dir)
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("indeg"))
    ranked = ind.select(
        "node", "indeg",
        F.row_number().over(
            Window.orderBy(F.col("indeg").desc(), "node")).alias("rk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
        F.coalesce(F.max(F.when(F.col("indeg") >= F.col("rk"),
                                F.col("rk"))), F.lit(0)).cast("bigint")
        .alias("h_index"),
        F.max("indeg").cast("bigint").alias("max_indeg"))


@query(
    "k_anonymity_audit",
    """
    WITH cls AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS k_size,
             CAST(COUNT(DISTINCT CAST(ROUND(c_acctbal * 100) AS BIGINT)
                   // 100000) AS BIGINT) AS l_diversity
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT nation, segment, k_size, l_diversity,
           CAST(CASE WHEN k_size < 5 THEN 1 ELSE 0 END AS INT)
             AS violates_k5,
           CAST(CASE WHEN l_diversity < 2 THEN 1 ELSE 0 END AS INT)
             AS violates_l2
    FROM cls
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the (nation, segment)
    quasi-identifier: each equivalence class's size (k) and its count
    of distinct sensitive-value buckets (balance in 1000-unit bands,
    l) with the k<5 and l<2 violation flags — the release-safety check
    that runs BEFORE any per-segment table leaves the warehouse, and
    the structural complement to pii_scrub's content-level pass. One
    grouped aggregate; the distinct count is class-bounded."""
    cust = _t(spark, sf_dir, "customer")
    return (cust.groupBy(F.col("c_nationkey").alias("nation"),
                         F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("k_size"),
                 F.countDistinct(
                     F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"
                            " div 100000")).cast("bigint")
                 .alias("l_diversity"))
            .select("nation", "segment", "k_size", "l_diversity",
                    F.expr("CAST(CASE WHEN k_size < 5 THEN 1 ELSE 0"
                           " END AS INT)").alias("violates_k5"),
                    F.expr("CAST(CASE WHEN l_diversity < 2 THEN 1"
                           " ELSE 0 END AS INT)").alias("violates_l2")))


@query(
    "skipgram_negatives",
    """
    WITH wsrc AS (
      SELECT list_filter(string_split(lower(text), ' '), w -> w <> '')
        AS ws
      FROM documents),
    flat AS (SELECT unnest(ws) AS word FROM wsrc),
    vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM flat
      GROUP BY word),
    idx AS (
      SELECT word, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rk
      FROM vocab),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    draws AS (
      SELECT i.word AS center, t.j,
             1 + ('0x' || substr(md5(i.word || ':neg:' ||
                  CAST(t.j AS VARCHAR)), 1, 8))::BIGINT % nv.v AS rk
      FROM idx i CROSS JOIN nv
      CROSS JOIN UNNEST(generate_series(1, 2)) AS t(j)
      WHERE i.rk <= 50),
    neg AS (
      SELECT d.center, d.j, x.word AS negative, x.freq AS neg_freq
      FROM draws d JOIN idx x ON x.rk = d.rk)
    SELECT center, CAST(j AS BIGINT) AS draw_idx, negative,
           CAST(neg_freq AS BIGINT) AS neg_freq,
           CAST(CASE WHEN negative = center THEN 1 ELSE 0 END AS INT)
             AS self_collision
    FROM neg
    """,
)
def q_skipgram_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for the skip-gram pairs: for
    each of the top-50 vocabulary words, two negatives drawn by
    md5-hash over the rank-indexed vocabulary (reproducible across
    engines, retries, and partitionings — no RNG, the repo's sampling
    discipline), with the rare self-collision SURFACED as a flag
    rather than silently filtered, so the trainer decides. The vocab
    index is one ordered window on the vocab grain; draws join back on
    the rank key. Completes the word2vec data-prep path begun by
    skipgram_pairs."""
    docs = _cpu(spark, sf_dir, "documents")
    flat = docs.select(
        F.explode(F.expr("filter(split(lower(text), ' '),"
                         " w -> w != '')")).alias("word"))
    vocab = flat.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"))
    idx = vocab.select(
        "word", "freq",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), "word")).alias("rk"))
    nv = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    j = spark.range(1, 3).select(F.col("id").alias("j"))
    draws = (idx.filter(F.col("rk") <= 50)
             .select(F.col("word").alias("center"))
             .crossJoin(F.broadcast(j))
             .crossJoin(F.broadcast(nv))
             .select("center", "j",
                     (1 + F.conv(F.substring(F.md5(F.concat(
                         F.col("center"), F.lit(":neg:"),
                         F.col("j").cast("string"))), 1, 8), 16, 10)
                      .cast("bigint") % F.col("v")).alias("rk")))
    x = idx.select(F.col("rk"), F.col("word").alias("negative"),
                   F.col("freq").alias("neg_freq"))
    return (draws.join(x, "rk")
            .select("center", F.col("j").cast("bigint")
                    .alias("draw_idx"), "negative", "neg_freq",
                    F.expr("CAST(CASE WHEN negative = center THEN 1"
                           " ELSE 0 END AS INT)")
                    .alias("self_collision")))


@query(
    "churn_labels",
    """
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    uw AS (
      SELECT DISTINCT e.user_id,
             CAST((CAST(e.ts AS DATE) - b.d0) // 7 AS BIGINT) AS week
      FROM events e CROSS JOIN bounds b),
    maxw AS (SELECT CAST(MAX(week) AS BIGINT) AS mw FROM uw),
    lab AS (
      SELECT a.user_id, a.week,
             CAST(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS INT)
               AS churned_next_week
      FROM uw a LEFT JOIN uw b
        ON b.user_id = a.user_id AND b.week = a.week + 1)
    SELECT lab.user_id, lab.week, lab.churned_next_week
    FROM lab CROSS JOIN maxw
    WHERE lab.week < maxw.mw
    """,
)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label generation — the feature-store op every retention
    model starts from: one row per (user, active-week) labeled by
    whether the user is ABSENT the following week, weeks anchored to
    the corpus min date so the grid is reproducible. The final
    (right-censored) week is excluded rather than mislabeled — the
    classic leakage trap handled structurally. One distinct projection
    + one self-join on the (user, week) grain, orders of magnitude
    below the event grain."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    uw = (ev.crossJoin(F.broadcast(bounds))
          .select("user_id",
                  F.expr("CAST(datediff(CAST(ts AS DATE), d0) div 7"
                         " AS BIGINT)").alias("week"))
          .distinct())
    maxw = uw.agg(F.max("week").cast("bigint").alias("mw"))
    b = uw.select(F.col("user_id"), (F.col("week") - 1).alias("week"),
                  F.lit(1).alias("active_next"))
    lab = (uw.join(b, ["user_id", "week"], "left")
           .select("user_id", "week",
                   F.coalesce(F.lit(1) - F.col("active_next"),
                              F.lit(1)).cast("int")
                   .alias("churned_next_week")))
    return (lab.crossJoin(F.broadcast(maxw))
            .filter(F.col("week") < F.col("mw"))
            .select("user_id", "week", "churned_next_week"))


@query(
    "sparse_dot_topk",
    """
    WITH tok AS (
      SELECT doc_id AS doc,
             unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    tf AS (SELECT doc, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE w <> '' GROUP BY doc, w),
    nd AS (SELECT CAST(COUNT(DISTINCT doc) AS BIGINT) AS n FROM tf),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf
           GROUP BY w),
    wt AS (
      SELECT tf.doc, tf.w,
             tf.tf * CAST(ROUND(ln(CAST(nd.n AS DOUBLE) / df.df)
                     * 1000000) AS BIGINT) AS wgt
      FROM tf JOIN df ON df.w = tf.w CROSS JOIN nd),
    q AS (SELECT doc AS qdoc, w, wgt AS qw FROM wt WHERE doc < 10),
    partials AS (
      SELECT q.qdoc, wt.doc AS ndoc,
             CAST(SUM(q.qw * wt.wgt) AS BIGINT) AS dot
      FROM q JOIN wt ON wt.w = q.w AND wt.doc != q.qdoc
      GROUP BY q.qdoc, wt.doc),
    ranked AS (
      SELECT qdoc, ndoc, dot,
             ROW_NUMBER() OVER (PARTITION BY qdoc
                                ORDER BY dot DESC, ndoc) AS rk
      FROM partials)
    SELECT qdoc, ndoc, dot, CAST(rk AS BIGINT) AS rank
    FROM ranked WHERE rk <= 5
    """,
)
def q_sparse_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF retrieval: top-5 neighbors per query doc by the
    exact integer dot product of idf-micro-weighted term vectors,
    computed THROUGH the inverted index — the term-keyed join only
    touches (query term, posting) pairs, so cost is bounded by posting
    lengths, never docs². The sparse companion to the dense paths
    (brute/IVF/LSH/int8): same top-k contract, same determinism (idf
    as micro-nats, ties to the lower doc id), int64 headroom documented
    at ~5e17 for 100 shared 14-micro-idf terms. BM25 ranks with
    saturation; this is the raw-dot baseline beside it."""
    docs = _cpu(spark, sf_dir, "documents")
    tok = (docs.select(F.col("doc_id").alias("doc"),
                       F.explode(F.split(F.lower("text"), " "))
                       .alias("w"))
           .filter(F.col("w") != ""))
    tf = tok.groupBy("doc", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"))
    nd = tf.agg(F.countDistinct("doc").cast("bigint").alias("n"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint")
                             .alias("df"))
    wt = (tf.join(df, "w").crossJoin(F.broadcast(nd))
          .select("doc", "w",
                  (F.col("tf") * F.round(
                      F.log(F.col("n").cast("double") / F.col("df"))
                      * 1000000).cast("bigint")).alias("wgt")))
    q = (wt.filter(F.col("doc") < 10)
         .select(F.col("doc").alias("qdoc"), "w",
                 F.col("wgt").alias("qw")))
    partials = (q.join(wt.select(F.col("doc").alias("ndoc"), "w",
                                 "wgt"), "w")
                .filter(F.col("ndoc") != F.col("qdoc"))
                .groupBy("qdoc", "ndoc")
                .agg(F.sum(F.col("qw") * F.col("wgt")).cast("bigint")
                     .alias("dot")))
    wnd = Window.partitionBy("qdoc").orderBy(F.col("dot").desc(),
                                             "ndoc")
    return (partials.select("qdoc", "ndoc", "dot",
                            F.row_number().over(wnd).alias("rk"))
            .filter(F.col("rk") <= 5)
            .select("qdoc", "ndoc", "dot",
                    F.col("rk").cast("bigint").alias("rank")))


@query(
    "revenue_recognition_schedule",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS d0
      FROM orders WHERE o_orderkey % 7 = 0),
    sched AS (
      SELECT k, cents, d0, t.m,
             cents // 3
               + CASE WHEN t.m < cents % 3 THEN 1 ELSE 0 END AS rec
      FROM base, UNNEST(generate_series(0, 2)) AS t(m)),
    monthly AS (
      SELECT strftime(d0 + INTERVAL (m) MONTH, '%Y-%m') AS month,
             CAST(SUM(rec) AS BIGINT) AS recognized_cents,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS n_contracts
      FROM sched GROUP BY strftime(d0 + INTERVAL (m) MONTH, '%Y-%m'))
    SELECT month, recognized_cents, n_contracts FROM monthly
    """,
)
def q_revenue_recognition_schedule(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Deferred revenue recognition: every 7th order's total is spread
    over a 3-month schedule with EXACT integer cents — base share
    cents div 3, the remainder's cents going one-each to the earliest
    months (in-row largest-remainder, so each contract's schedule sums
    to its total to the cent, the invariant auditors actually check).
    The month explosion is in-row (fan-out exactly 3); the rollup is
    one month-keyed agg. The accrual-accounting sibling of the
    cash-basis revenue rollups elsewhere in the suite."""
    orders = _t(spark, sf_dir, "orders")
    base = (orders.filter(F.col("o_orderkey") % 7 == 0)
            .select(F.col("o_orderkey").alias("k"),
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("cents"),
                    F.col("o_orderdate").cast("date").alias("d0")))
    sched = base.select(
        "k", "d0",
        F.explode(F.expr(
            "transform(sequence(0, 2), m -> struct(m AS m,"
            " cents div 3 + CASE WHEN m < cents % 3 THEN 1 ELSE 0 END"
            " AS rec))")).alias("s"))
    return (sched.select(
        F.date_format(F.expr("add_months(d0, s.m)"), "yyyy-MM")
        .alias("month"),
        F.col("s.rec").alias("rec"), "k")
        .groupBy("month")
        .agg(F.sum("rec").cast("bigint").alias("recognized_cents"),
             F.countDistinct("k").cast("bigint").alias("n_contracts")))


@query(
    "survival_life_table",
    """
    WITH od AS (
      SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d
      FROM orders),
    mx AS (SELECT MAX(d) AS dmax FROM od),
    seq AS (
      SELECT c, d,
             LEAD(d) OVER (PARTITION BY c ORDER BY d) AS nxt
      FROM (SELECT DISTINCT c, d FROM od)),
    spans AS (
      SELECT c,
             CAST(CASE WHEN nxt IS NOT NULL THEN nxt - d
                  ELSE mx.dmax - d END AS BIGINT) AS t,
             CAST(CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS event
      FROM seq CROSS JOIN mx),
    grid AS (
      SELECT t,
             CAST(SUM(event) AS BIGINT) AS d_t,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM spans WHERE t > 0 GROUP BY t),
    risk AS (
      SELECT t, d_t,
             CAST(SUM(leaving) OVER (ORDER BY t DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM grid),
    terms AS (
      SELECT t, d_t, n_risk,
             CASE WHEN d_t > 0 AND d_t < n_risk THEN
               CAST(ROUND(ln(CAST(n_risk - d_t AS DOUBLE) / n_risk)
                    * 1000000) AS BIGINT)
             WHEN d_t >= n_risk THEN NULL
             ELSE 0 END AS term
      FROM risk),
    acc AS (
      SELECT t, d_t, n_risk,
             CAST(SUM(term) OVER (ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln_s_micro
      FROM terms WHERE term IS NOT NULL)
    SELECT t AS gap_days, n_risk, d_t AS n_events, ln_s_micro
    FROM acc WHERE d_t > 0
    """,
)
def q_survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier life table of customer inter-order gaps with
    right-censoring (a customer's open-ended wait since their last
    order is censored at the corpus horizon, NOT counted as an event —
    the mistake naive churn math makes): per observed gap length, the
    at-risk count (suffix sum over the gap grid), events, and the
    cumulative log-survival Σ ln((n−d)/n) in exact integer micro-nats
    (one ln per DISTINCT ratio, cumulative sum integer and order-free;
    S(t) = exp(ln_s_micro/1e6) is one driver-side exp away). The rare
    grid point absorbing ALL remaining risk (ln 0) is excluded rather
    than fabricated. Fact work is one customer-keyed window; the life
    table lives on the gap-length grain."""
    orders = _t(spark, sf_dir, "orders")
    od = orders.select(F.col("o_custkey").alias("c"),
                       F.col("o_orderdate").cast("date").alias("d")) \
        .distinct()
    mx = od.agg(F.max("d").alias("dmax"))
    seq = od.select(
        "c", "d",
        F.lead("d").over(Window.partitionBy("c").orderBy("d"))
        .alias("nxt"))
    spans = (seq.crossJoin(F.broadcast(mx))
             .select(
                 F.when(F.col("nxt").isNotNull(),
                        F.datediff("nxt", "d"))
                 .otherwise(F.datediff("dmax", "d")).cast("bigint")
                 .alias("t"),
                 F.col("nxt").isNotNull().cast("int").alias("event")))
    grid = (spans.filter(F.col("t") > 0)
            .groupBy("t")
            .agg(F.sum("event").cast("bigint").alias("d_t"),
                 F.count(F.lit(1)).cast("bigint").alias("leaving")))
    risk = grid.select(
        "t", "d_t",
        F.sum("leaving").over(
            Window.orderBy(F.col("t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint")
        .alias("n_risk"))
    terms = risk.select(
        "t", "d_t", "n_risk",
        F.expr("CASE WHEN d_t > 0 AND d_t < n_risk THEN"
               " CAST(ROUND(ln(CAST(n_risk - d_t AS DOUBLE) / n_risk)"
               " * 1000000) AS BIGINT)"
               " WHEN d_t >= n_risk THEN NULL ELSE 0 END")
        .alias("term"))
    acc = (terms.filter(F.col("term").isNotNull())
           .select("t", "d_t", "n_risk",
                   F.sum("term").over(
                       Window.orderBy("t")
                       .rowsBetween(Window.unboundedPreceding, 0))
                   .cast("bigint").alias("ln_s_micro")))
    return (acc.filter(F.col("d_t") > 0)
            .select(F.col("t").alias("gap_days"), "n_risk",
                    F.col("d_t").alias("n_events"), "ln_s_micro"))


def _boruvka_round_sql(r: int, prev: str) -> str:
    """One unrolled Borůvka round: cross edges under ``prev`` labels,
    per-component (w, a, b) argmin, 2 min-label pointer jumps, new
    label frame l{r} + the round's stat CTEs."""
    return f"""
    cr{r} AS MATERIALIZED (
      SELECT wed.w, wed.a, wed.b, la.comp AS eca, lb.comp AS ecb
      FROM wed JOIN {prev} la ON la.node = wed.a
               JOIN {prev} lb ON lb.node = wed.b
      WHERE la.comp != lb.comp),
    inc{r} AS MATERIALIZED (
      SELECT eca AS comp, w, a, b, eca, ecb FROM cr{r}
      UNION ALL SELECT ecb, w, a, b, eca, ecb FROM cr{r}),
    pick{r} AS MATERIALIZED (
      SELECT comp, w, a, b, eca, ecb,
             ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b)
               AS rn
      FROM inc{r}),
    ch{r} AS MATERIALIZED (SELECT DISTINCT w, a, b, eca, ecb FROM pick{r}
              WHERE rn = 1),
    st{r} AS (SELECT CAST(COUNT(*) AS BIGINT) AS nch,
                     CAST(COALESCE(SUM(w), 0) AS BIGINT) AS tw
              FROM ch{r}),
    cp{r} AS MATERIALIZED (SELECT eca AS c, ecb AS d FROM ch{r}
              UNION ALL SELECT ecb, eca FROM ch{r}),
    j{r}0 AS MATERIALIZED (SELECT DISTINCT comp AS c, comp AS l FROM {prev}),
    j{r}1 AS MATERIALIZED (
      SELECT j.c, LEAST(j.l, COALESCE(MIN(xd.l), j.l)) AS l
      FROM j{r}0 j
      LEFT JOIN cp{r} ON cp{r}.c = j.c
      LEFT JOIN j{r}0 xd ON xd.c = cp{r}.d
      GROUP BY j.c, j.l),
    j{r}2 AS MATERIALIZED (
      SELECT j.c, LEAST(j.l, COALESCE(MIN(xd.l), j.l)) AS l
      FROM j{r}1 j
      LEFT JOIN cp{r} ON cp{r}.c = j.c
      LEFT JOIN j{r}1 xd ON xd.c = cp{r}.d
      GROUP BY j.c, j.l),
    l{r} AS MATERIALIZED (
      SELECT p.node, j{r}2.l AS comp
      FROM {prev} p JOIN j{r}2 ON j{r}2.c = p.comp),
    nc{r} AS (SELECT CAST(COUNT(DISTINCT comp) AS BIGINT) AS n
              FROM l{r}),
    nb{r} AS (SELECT CAST(COUNT(DISTINCT comp) AS BIGINT) AS n
              FROM {prev}),"""


_BORUVKA_SQL = (
    f"""
    WITH {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    wed AS MATERIALIZED (
      SELECT a, b,
             ('0x' || substr(md5('mst:' || CAST(a AS VARCHAR) || ':'
               || CAST(b AS VARCHAR)), 1, 12))::BIGINT AS w
      FROM und),
    gn AS (SELECT a AS node FROM wed UNION SELECT b FROM wed),
    l0 AS MATERIALIZED (SELECT node, node AS comp FROM gn),"""
    + _boruvka_round_sql(1, "l0")
    + _boruvka_round_sql(2, "l1")
    + """
    out AS (
      SELECT CAST(1 AS BIGINT) AS round, nb1.n AS n_components_before,
             st1.nch AS n_edges_chosen, st1.tw AS total_weight,
             nc1.n AS n_components_after
      FROM nb1 CROSS JOIN st1 CROSS JOIN nc1
      UNION ALL
      SELECT CAST(2 AS BIGINT), nb2.n, st2.nch, st2.tw, nc2.n
      FROM nb2 CROSS JOIN st2 CROSS JOIN nc2)
    SELECT * FROM out
    """
)


@query("boruvka_msf", _BORUVKA_SQL, eager=True)
def q_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Borůvka minimum-spanning-forest rounds on the host graph
    (md5-derived edge weights): per round, every component's minimum
    cross-component edge joins the forest and components contract via
    two fixed min-label pointer jumps — the BSP MST algorithm that
    clusters near-dup graphs by similarity weight at corpus scale,
    unrolled identically in the DuckDB twin. See
    functions/graph.boruvka_rounds for the plan shape."""
    from ocr_spark.functions.graph import boruvka_rounds

    return boruvka_rounds(_host_edges(spark, sf_dir))
