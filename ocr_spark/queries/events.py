"""Event-stream analytics over ``events``: windows and sessions, funnels,
retention, anomaly detection, change points, forecasts, as-of joins and the
streaming (foreachBatch / stateful) queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.queries.registry import _cents, _t, query


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
    "streaming_dedup_events",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           event_type, user_id,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
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


# Events per (event_type, day): the day-grain series the trend, anomaly and
# forecast queries below read, one spelling per engine.
_DAILY_EVENTS_CTE = """daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE))"""


def _daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DAILY_EVENTS_CTE``: columns (event_type, day, cnt)."""
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt")))


@query(
    "ewma_anomaly",
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
    daily = _daily_events(spark, sf_dir)
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
    "cusum_changepoint",
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
             max({{'a': abs_s, 'negi': -i,
                  'd': CAST(day AS VARCHAR)}}) AS b,
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
    daily = _daily_events(spark, sf_dir)
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
    "weekly_autocorr",
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
    daily = _daily_events(spark, sf_dir)
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
    "decayed_leaderboard",
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
    daily = _daily_events(spark, sf_dir)
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
    "theil_sen_trend",
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
    daily = _daily_events(spark, sf_dir)
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
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
    daily = _daily_events(spark, sf_dir)
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
    "naive_forecast_eval",
    f"""
    WITH {_DAILY_EVENTS_CTE},
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
    daily = _daily_events(spark, sf_dir)
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


# Each event beside its user's next event type (NULL for the last): the
# transition pairs the Markov-chain queries below count.
_SUCCESSOR_CTE = """seq AS (
      SELECT event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b
      FROM events)"""


def _successors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SUCCESSOR_CTE``: columns (a, b)."""
    return _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("b"))


@query(
    "markov_two_step",
    f"""
    WITH {_SUCCESSOR_CTE},
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
    seq = _successors(spark, sf_dir)
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
    "transition_entropy",
    f"""
    WITH {_SUCCESSOR_CTE},
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
    seq = _successors(spark, sf_dir)
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
