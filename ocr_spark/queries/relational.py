"""Relational engine ops (SURVEY.md §2.3-§2.6): TPC-H-analog joins, hash
aggregation with map-side partials, window top-k, set ops, anti-join
resume, plus the table-maintenance and data-ops shapes (merge-into,
survivorship, profiling, skew-salted joins, manifest pruning) over the
driver's relational tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.casespec import case_col, case_sql
from ocr_spark.queries.registry import _cents, _cpu, _t, query


def _net_centbp() -> Column:
    """Net revenue, extendedprice * (1 - discount), exact in cents x
    basis points."""
    return (_cents("l_extendedprice")
            * (F.lit(10000) - F.round(F.col("l_discount") * 10000)
               .cast("bigint")))


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
    (io/tableio.py:35) — SnapshotTable.commit writes its audit rows with
    this same lineage_digest, so the oracle pins the audit semantics."""
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
        _net_centbp().alias("rev"),
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
        _net_centbp().alias("vol"),
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
        _net_centbp().alias("rev"),
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
    rev = _net_centbp()
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
        _net_centbp().alias("rev"),
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
        _net_centbp().alias("rev"))
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
        _net_centbp().alias("rev"))
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
        _net_centbp().alias("rev"))
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
