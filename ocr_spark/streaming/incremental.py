"""Structured Streaming surface: continuous crawl ingestion + event-time
windowed aggregation.

The reference is batch-only (SURVEY.md §2.10), so streaming here extends the
engine rather than mirroring the reference: a file-source stream of page
parquet drops feeds the SAME batch extraction pipeline via foreachBatch,
committing each micro-batch through the snapshot table — streaming becomes
"incremental batch with exactly-once commits", reusing the audit/resume
machinery instead of a second state store. Event analytics use the standard
watermark + tumbling-window aggregation.

Scale notes: foreachBatch keeps the per-batch plan identical to the batch
job (same salting, same document stage); the file source's maxFilesPerTrigger
bounds micro-batch size; watermarks bound window state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages_to_table(
    spark: SparkSession,
    input_dir: str,
    table,  # ocr_spark.io.tableio.SnapshotTable
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    available_now: bool = False,
) -> StreamingQuery:
    """File-source stream of page parquet -> extraction -> snapshot commits.

    Each micro-batch is the batch job, ``run_and_commit``: it commits only
    the urls the table does not hold (``table.uncommitted``, one url
    anti-join against the committed url column) and lands as one snapshot,
    or none when it has no fresh url. That one rule makes a replayed batch
    a no-op and lets a new checkpoint at any path commit every new url."""
    from ocr_spark.io.tableio import run_and_commit

    stream = (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    writer = stream.writeStream.foreachBatch(
        lambda batch_df, _: run_and_commit(spark, batch_df, table)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_first_seen(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): emit only
    the FIRST occurrence of each content hash across the entire stream —
    streaming exact-dedup for a continuous crawl feed.

    State is keyed by a hash bucket (pmod(xxhash64(content_hash))), so the
    dedup set shards across executors exactly like the batch exact_dedup
    shuffle. Here the per-bucket state is the raw hash set; at 100 TB the
    same operator shape holds with the state store backend (RocksDB) and a
    bloom-fronted set, which this sandbox's HDFS-backed state store stands
    in for."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = (
        df.withColumn("content_hash", F.sha2(F.col(text_col), 256))
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("content_hash"), F.lit(n_buckets)).cast("int"),
        )
    )
    out_schema = f"bucket int, {id_col} string, content_hash string"

    def first_seen(key, pdfs, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        rows = []
        for pdf in pdfs:
            for ident, h in zip(pdf[id_col], pdf["content_hash"]):
                if h not in seen:
                    seen.add(h)
                    rows.append((key[0], ident, h))
        state.update((list(seen),))
        yield pd.DataFrame(rows, columns=["bucket", id_col, "content_hash"])

    return hashed.groupBy("bucket").applyInPandasWithState(
        first_seen, out_schema, "hashes array<string>", "append",
        GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data handling:
    watermark bounds state; output matches the batch events_hourly rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "value_cents",
        )
    )


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    available_now: bool = True,
) -> StreamingQuery:
    """readStream -> watermark windowed agg -> in-memory sink (for tests /
    dashboards; swap format for kafka/parquet in production)."""
    events = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_event_counts(events)
    writer = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("event_counts")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_neardup_admission(
    spark: SparkSession,
    input_dir: str,
    index_sigs: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 4,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming near-dup admission: a file-source stream of page parquet
    is admitted per micro-batch against the retained corpus's PREBUILT
    band-signature index (functions.dedup.build_signature_index — built
    once per crawl cycle, loaded as a static frame), and only 'keep'
    pages land in ``out_dir``. Complements streaming_first_seen: that
    operator dedups exactly WITHIN the stream via state; this one dedups
    the stream AGAINST the corpus with zero streaming state beyond the
    source offsets — the index is static, so a crashed batch replays to
    the identical decision set.

    foreachBatch keeps the per-batch plan the batch engine's
    (signature explode -> partial MIN -> one aggregated-index join);
    maxFilesPerTrigger bounds batch size."""
    from ocr_spark.functions.dedup import admit_against_index

    stream = (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        decisions = admit_against_index(batch_df, index_sigs, "url", "text")
        kept = batch_df.join(
            decisions.filter(F.col("action") == "keep").select("doc"),
            batch_df["url"] == F.col("doc"),
        ).drop("doc")
        kept.write.mode("append").parquet(out_dir)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")


def event_rollup(df: DataFrame, window: str = "1 hour") -> DataFrame:
    """Decomposable per-(window, event_type) rollup — the state unit the
    incremental merge maintains. count/sum/min/max only: exactly the
    algebra that merges associatively (queries.agg_delta_merge proves
    the merge == full recompute at the query level)."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        df.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(cents).cast("bigint").alias("value_cents"),
            F.min(cents).cast("bigint").alias("min_cents"),
            F.max(cents).cast("bigint").alias("max_cents"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type", "n_events", "value_cents",
            "min_cents", "max_cents",
        )
    )


def merge_rollup(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two rollup states: counts/sums add, min/max combine — the
    incremental-aggregate algebra from queries.agg_delta_merge, reused
    by the streaming surface so a nightly 100 TB rollup touches only the
    new micro-batch."""
    o, d = old.alias("o"), delta.alias("d")
    on = (F.col("o.window_start").eqNullSafe(F.col("d.window_start"))
          & F.col("o.event_type").eqNullSafe(F.col("d.event_type")))
    return o.join(d, on, "full_outer").select(
        F.coalesce("o.window_start", "d.window_start").alias("window_start"),
        F.coalesce("o.event_type", "d.event_type").alias("event_type"),
        (F.coalesce("o.n_events", F.lit(0))
         + F.coalesce("d.n_events", F.lit(0))).cast("bigint")
        .alias("n_events"),
        (F.coalesce("o.value_cents", F.lit(0))
         + F.coalesce("d.value_cents", F.lit(0))).cast("bigint")
        .alias("value_cents"),
        F.least(F.coalesce("o.min_cents", F.col("d.min_cents")),
                F.coalesce("d.min_cents", F.col("o.min_cents")))
        .cast("bigint").alias("min_cents"),
        F.greatest(F.coalesce("o.max_cents", F.col("d.max_cents")),
                   F.coalesce("d.max_cents", F.col("o.max_cents")))
        .cast("bigint").alias("max_cents"),
    )


def read_rollup_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current committed rollup state, or None before the first commit."""
    ptr = os.path.join(state_dir, "current")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        import json

        meta = json.load(f)
    return spark.read.parquet(os.path.join(state_dir, meta["dir"]))


def stream_merged_rollup(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = EVENT_SCHEMA,
    window: str = "1 hour",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    fail_before_flip_on_batch: int | None = None,
) -> StreamingQuery:
    """Streaming incremental-aggregate maintenance: each micro-batch's
    per-window rollup MERGES into a snapshot-committed state table
    (count/sum add, min/max combine) instead of re-aggregating history —
    the foreachBatch promotion of queries.agg_delta_merge (round-3
    verdict item 6). State commits are all-or-nothing: the new state
    parquet lands first, a JSON pointer flips last by atomic rename, so
    a kill between write and flip leaves the prior state current and the
    replayed batch (same batch_id, same content under the checkpoint
    lineage) merges to the identical result.

    Exactly-once: the pointer records the last merged batch_id; a replay
    of an already-flipped batch is a no-op (<=-guard), and a replay of a
    crashed batch re-merges from the UNFLIPPED prior state — never
    double-counts. Contract: ONE checkpoint lineage per state table (the
    guard is monotonic per state dir, so re-pointing an existing state
    at a fresh checkpoint — whose batch ids restart at 0 — reads as
    replays and is ignored rather than double-merged).
    ``fail_before_flip_on_batch`` injects the kill-between-write-and-flip
    for tests (the test_resume model).

    Scale shape: per batch one window-keyed partial agg over the batch
    plus one key-keyed full-outer join against state that is
    window-bounded (old windows stop appearing in deltas; production
    would expire them on watermark like dropDuplicates state)."""
    import json

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    os.makedirs(state_dir, exist_ok=True)
    ptr = os.path.join(state_dir, "current")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = None
        if os.path.exists(ptr):
            with open(ptr) as f:
                last = json.load(f)
        if last is not None and batch_id <= last["batch_id"]:
            return  # pure replay of an already-committed batch
        delta = event_rollup(batch_df, window)
        if last is not None:
            old = spark.read.parquet(os.path.join(state_dir, last["dir"]))
            merged = merge_rollup(old, delta)
        else:
            merged = delta
        rel = f"state-{batch_id:06d}"
        merged.write.mode("overwrite").parquet(os.path.join(state_dir, rel))
        if fail_before_flip_on_batch is not None and \
                batch_id == fail_before_flip_on_batch:
            raise RuntimeError(f"injected kill before flip, batch {batch_id}")
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "dir": rel}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, ptr)  # the atomic commit point

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    spark: SparkSession,
    views_dir: str,
    clicks_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_gap_minutes: int = 10,
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Watermarked stream-stream INTERVAL join — the attribution operator:
    every (view, click) pair for the same user where the click lands
    within ``max_gap_minutes`` after the view (inclusive both ends).

    This is the third stateful-streaming class the surface covers (after
    windowed aggregation and applyInPandasWithState dedup): BOTH sides
    buffer in the state store, and the time-range condition plus the two
    watermarks are what let Spark evict state — a view older than
    watermark + gap can never match a future click, so state stays
    bounded no matter how long the streams run. Without the range
    condition the join would be rejected (unbounded state).

    Pairs append to a parquet sink exactly-once under the checkpoint;
    ``availableNow`` + ``maxFilesPerTrigger=1`` forces multi-micro-batch
    execution so cross-batch matches genuinely exercise the state store.
    """
    views = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(views_dir)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(clicks_dir)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    pairs = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts")
           <= F.col("view_ts") + F.expr(f"interval {max_gap_minutes} minutes")),
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id",
        "view_ts", "click_ts",
    )
    return (
        pairs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
