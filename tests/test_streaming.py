"""Structured Streaming tests: incremental page ingestion through the
snapshot table (exactly-once at snapshot level) and watermarked windowed
event aggregation, both driven with availableNow triggers."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_drops(feed, table: pa.Table, n_files: int) -> None:
    """Split ``table`` into ``n_files`` parquet drop files under ``feed``."""
    feed.mkdir()
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), str(feed / f"drop-{i}.parquet"))


@pytest.fixture()
def paged_corpus(tmp_path, corpus_dir):
    """The golden corpus split into 3 parquet drop files (a 'crawl feed')."""
    feed = tmp_path / "feed"
    _write_drops(feed, pq.read_table(os.path.join(corpus_dir, "pages.parquet")), 3)
    return str(feed)


def test_streaming_ingestion_commits_snapshots(spark, paged_corpus, tmp_path):
    from ocr_spark.io.tableio import SnapshotTable
    from ocr_spark.streaming.incremental import stream_pages_to_table

    table = SnapshotTable(str(tmp_path / "out"), n_buckets=16)
    q = stream_pages_to_table(
        spark, paged_corpus, table, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, available_now=True,
    )
    q.awaitTermination(300)
    docs = sum(a["doc_count"] for a in table.audit_rows())
    expected = pq.read_table(os.path.join(paged_corpus, "drop-0.parquet")).num_rows
    total = sum(pq.read_table(f).num_rows for f in glob.glob(paged_corpus + "/*.parquet"))
    assert docs == total
    assert table.current_snapshot()["snapshot_id"] >= 1
    out = table.read(spark)
    assert out.count() == total
    # replaying the whole feed through a FRESH checkpoint must be a no-op
    # (committed urls are anti-joined away -> no duplicate rows)
    q2 = stream_pages_to_table(
        spark, paged_corpus, table, str(tmp_path / "ckpt2"),
        max_files_per_trigger=3, available_now=True,
    )
    q2.awaitTermination(300)
    assert table.read(spark).count() == total


def test_empty_micro_batch_commits_nothing(spark, corpus_dir, tmp_path):
    """A zero-row drop file still triggers a micro-batch; it must land no
    snapshot."""
    from ocr_spark.io.tableio import SnapshotTable
    from ocr_spark.streaming.incremental import stream_pages_to_table

    feed = tmp_path / "feed"
    feed.mkdir()
    empty = pq.read_table(os.path.join(corpus_dir, "pages.parquet")).slice(0, 0)
    pq.write_table(empty, str(feed / "drop-0.parquet"))
    table = SnapshotTable(str(tmp_path / "out"), n_buckets=16)
    q = stream_pages_to_table(spark, str(feed), table, str(tmp_path / "ckpt"),
                              available_now=True)
    assert q.awaitTermination(300)
    assert [p["numInputRows"] for p in q.recentProgress] == [0]
    assert table.current_snapshot()["snapshot_id"] == 0


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from ocr_spark.streaming.incremental import stream_event_counts, windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    feed = tmp_path / "events"
    events.coalesce(1).write.parquet(str(feed))

    q = stream_event_counts(spark, str(feed), str(tmp_path / "eckpt"))
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.sql("select * from event_counts").collect()
    }
    # batch reference: identical rollup over the same input
    exp_df = (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )
    exp = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in exp_df.collect()
    }
    # the watermark may hold back the final (latest) windows in append mode;
    # everything emitted must match batch exactly
    assert got
    for k, v in got.items():
        assert exp[k] == v, k
    # and emitted coverage is the full set minus at most the tail windows
    missing = set(exp) - set(got)
    if missing:
        max_emitted = max(k[0] for k in got)
        assert all(k[0] > max_emitted for k in missing)


def test_partial_overlap_micro_batch_commits_only_fresh_urls(spark, corpus_dir, tmp_path):
    """Commit urls A+B, then stream one file holding B+C through a fresh
    checkpoint: the anti-join must keep only C, so the table holds every
    url once and B's rows and the first run's audit rows are untouched."""
    from ocr_spark.io.tableio import SnapshotTable, run_and_commit
    from ocr_spark.streaming.incremental import stream_pages_to_table

    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    n = pages.num_rows // 3
    a, b, c = pages.slice(0, n), pages.slice(n, n), pages.slice(2 * n)
    ab = str(tmp_path / "ab.parquet")
    pq.write_table(pa.concat_tables([a, b]), ab)
    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(pa.concat_tables([b, c]), str(feed / "drop-0.parquet"))

    table = SnapshotTable(str(tmp_path / "out"), n_buckets=16)
    run_and_commit(spark, ab, table)
    audit_before = table.audit_rows()
    b_urls = set(b.column("url").to_pylist())
    b_text = {r["url"]: r["extracted_text"] for r in table.read(spark).collect()
              if r["url"] in b_urls}
    assert len(b_text) == len(b_urls)

    q = stream_pages_to_table(spark, str(feed), table, str(tmp_path / "ckpt"),
                              available_now=True)
    assert q.awaitTermination(300)

    rows = table.read(spark).select("url", "extracted_text").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)) == pages.num_rows
    assert set(urls) == set(pages.column("url").to_pylist())
    assert {r["url"]: r["extracted_text"] for r in rows if r["url"] in b_urls} == b_text
    audit = table.audit_rows()
    assert audit[:len(audit_before)] == audit_before
    assert sum(r["doc_count"] for r in audit[len(audit_before):]) == c.num_rows


def test_recreated_checkpoint_commits_every_new_url(spark, corpus_dir, tmp_path):
    """A checkpoint deleted and recreated at the same path restarts its
    batch ids at 0; the batches it streams next hold new urls and must all
    be committed."""
    from ocr_spark.io.tableio import SnapshotTable
    from ocr_spark.streaming.incremental import stream_pages_to_table

    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet")).slice(0, 60)
    _write_drops(tmp_path / "feed1", pages.slice(0, 30), 3)
    _write_drops(tmp_path / "feed2", pages.slice(30, 30), 3)
    table = SnapshotTable(str(tmp_path / "out"), n_buckets=16)
    ckpt = str(tmp_path / "ckpt")
    for feed in ("feed1", "feed2"):
        shutil.rmtree(ckpt, ignore_errors=True)
        q = stream_pages_to_table(spark, str(tmp_path / feed), table, ckpt,
                                  max_files_per_trigger=1, available_now=True)
        assert q.awaitTermination(300)
        assert [p["numInputRows"] for p in q.recentProgress] == [10, 10, 10]

    urls = [r["url"] for r in table.read(spark).select("url").collect()]
    assert sorted(urls) == sorted(pages.column("url").to_pylist())
    assert sum(a["doc_count"] for a in table.audit_rows()) == 60


def test_replayed_micro_batch_appends_nothing(spark, corpus_dir, tmp_path):
    """Delete the last batch's commit marker and restart on the same
    checkpoint: Spark re-runs that batch, and the url rule alone makes it a
    no-op: same snapshot, same data files, same data directories."""
    from ocr_spark.io.tableio import SnapshotTable
    from ocr_spark.streaming.incremental import stream_pages_to_table

    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet")).slice(0, 30)
    feed = tmp_path / "feed"
    _write_drops(feed, pages, 3)
    table = SnapshotTable(str(tmp_path / "out"), n_buckets=16)
    ckpt = tmp_path / "ckpt"
    q = stream_pages_to_table(spark, str(feed), table, str(ckpt),
                              max_files_per_trigger=1, available_now=True)
    assert q.awaitTermination(300)
    snap = table.current_snapshot()
    dirs = sorted(os.listdir(table.data_dir))
    assert snap["snapshot_id"] == 3

    os.remove(ckpt / "commits" / "2")
    os.remove(ckpt / "commits" / ".2.crc")
    q = stream_pages_to_table(spark, str(feed), table, str(ckpt),
                              max_files_per_trigger=1, available_now=True)
    assert q.awaitTermination(300)
    assert [p["batchId"] for p in q.recentProgress] == [2]
    assert os.path.exists(ckpt / "commits" / "2")
    assert table.current_snapshot() == snap
    assert sorted(os.listdir(table.data_dir)) == dirs


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState exact-dedup: a duplicate arriving in a LATER
    micro-batch must be suppressed by the persisted per-bucket state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.streaming.incremental import streaming_first_seen

    feed = tmp_path / "dedup_feed"
    feed.mkdir()
    # maxFilesPerTrigger=1 -> each file is its own micro-batch; the state
    # store must carry the seen-hash set across batches within the query
    pq.write_table(
        pa.table({"url": ["u1", "u2", "u3"], "text": ["alpha", "beta", "alpha"]}),
        str(feed / "b1.parquet"),
    )
    pq.write_table(
        pa.table({"url": ["u4", "u5"], "text": ["alpha", "gamma"]}),
        str(feed / "b2.parquet"),  # u4 dups b1's alpha in a LATER batch
    )
    os.utime(str(feed / "b1.parquet"), (1, 1))  # force b1-first file order
    os.utime(str(feed / "b2.parquet"), (2, 2))

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    q = (
        streaming_first_seen(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("first_seen")
        .option("checkpointLocation", str(tmp_path / "fs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 2  # genuinely multiple micro-batches
    got = {r["url"] for r in spark.sql("select * from first_seen").collect()}
    assert "u1" in got and "u2" in got
    assert "u3" not in got       # in-batch dup suppressed
    assert "u4" not in got       # cross-batch dup suppressed by state
    assert "u5" in got           # fresh content emitted


def test_stream_neardup_admission(spark, tmp_path):
    """Pages duplicating the retained corpus are rejected per micro-batch;
    fresh pages land in out_dir; a second run from the same checkpoint
    reprocesses nothing (no double-append)."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.dedup import build_signature_index
    from ocr_spark.streaming.incremental import stream_neardup_admission

    retained = spark.createDataFrame(
        [(f"old{i}", f"retained corpus page body number {i} with words")
         for i in range(6)],
        "doc string, text string")
    idx = build_signature_index(retained, "doc", "text")

    feed = tmp_path / "feed"
    feed.mkdir()
    rows = (
        [(f"http://dup/{i}",
          f"retained corpus page body number {i} with words")
         for i in range(3)]
        + [(f"http://new/{i}",
            f"entirely novel content block {i} nothing shared here")
           for i in range(4)]
    )
    spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(str(feed / "batch0"))

    out = str(tmp_path / "admitted")
    q = stream_neardup_admission(
        spark, str(feed) + "/*", idx, str(tmp_path / "nckpt"), out,
        available_now=True)
    q.awaitTermination(120)
    got = {r.url for r in spark.read.parquet(out).collect()}
    assert got == {f"http://new/{i}" for i in range(4)}

    q2 = stream_neardup_admission(
        spark, str(feed) + "/*", idx, str(tmp_path / "nckpt"), out,
        available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 4   # replay appended nothing


def test_stream_merged_rollup_kill_resume_equals_full_recompute(spark, tmp_path):
    """The agg_delta_merge algebra promoted into foreachBatch: kill the
    stream between state write and pointer flip mid-run, resume from the
    same checkpoint, and the merged state must equal a full batch
    recompute over all events (round-3 verdict item 6)."""
    from ocr_spark.streaming.incremental import (
        event_rollup,
        read_rollup_state,
        stream_merged_rollup,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    feed = tmp_path / "events"
    # several files -> several micro-batches at maxFilesPerTrigger=1
    events.repartition(4).write.parquet(str(feed))

    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "rollup_ckpt")

    # first run: injected kill between state write and pointer flip on
    # batch 2 — the crash window the atomic-rename commit protects
    q = stream_merged_rollup(spark, str(feed), state, ckpt,
                             fail_before_flip_on_batch=2)
    try:
        q.awaitTermination(300)
    except Exception:
        pass  # the injected kill surfaces as a terminated query
    assert not q.isActive
    mid = read_rollup_state(spark, state)
    assert mid is not None  # batches 0-1 committed, batch 2 did not flip

    # resume: same checkpoint lineage replays batch 2 with identical
    # content; the merge restarts from the UNFLIPPED prior state
    q2 = stream_merged_rollup(spark, str(feed), state, ckpt)
    q2.awaitTermination(300)

    got = {
        (r["window_start"], r["event_type"]): (
            r["n_events"], r["value_cents"], r["min_cents"], r["max_cents"])
        for r in read_rollup_state(spark, state).collect()
    }
    exp = {
        (r["window_start"], r["event_type"]): (
            r["n_events"], r["value_cents"], r["min_cents"], r["max_cents"])
        for r in event_rollup(events).collect()
    }
    assert got == exp


def test_stream_merged_rollup_replay_is_noop(spark, tmp_path):
    """A second availableNow run over the same checkpoint must not
    double-count (the <=-guard on committed batch ids)."""
    from ocr_spark.streaming.incremental import (
        event_rollup,
        read_rollup_state,
        stream_merged_rollup,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    feed = tmp_path / "events"
    events.repartition(2).write.parquet(str(feed))
    state = str(tmp_path / "state2")
    ckpt = str(tmp_path / "ckpt2")

    stream_merged_rollup(spark, str(feed), state, ckpt).awaitTermination(300)
    first = sorted(
        tuple(r) for r in read_rollup_state(spark, state).collect())
    # new checkpoint, same state dir: batch ids restart at 0, which the
    # pointer guard treats as replays -> state unchanged
    stream_merged_rollup(spark, str(feed), state,
                         str(tmp_path / "ckpt3")).awaitTermination(300)
    second = sorted(
        tuple(r) for r in read_rollup_state(spark, state).collect())
    assert first == second
    exp = sorted(tuple(r) for r in event_rollup(events).collect())
    assert first == exp
