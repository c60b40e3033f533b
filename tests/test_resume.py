"""Idempotent resume + per-partition lineage (north rule): a run commits
only the urls the table does not hold, so a partial or killed run followed
by a rerun leaves every url committed once, in a state identical to a
single-shot run, and a rerun over committed input appends nothing."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_spark.io.tableio import SnapshotTable, run_and_commit


@pytest.fixture()
def paths(corpus_dir, tmp_path):
    return f"{corpus_dir}/pages.parquet", f"{corpus_dir}/payloads.parquet", str(tmp_path / "out")


def _slice_pages(pages: str, out: str, start: int, stop: int | None = None) -> str:
    """Write rows [start, stop) of a pages file to ``out``; returns ``out``."""
    t = pq.read_table(pages)
    stop = t.num_rows if stop is None else stop
    pq.write_table(t.slice(start, stop - start), out)
    return out


def _content(spark, table: SnapshotTable) -> set:
    return {(r["url"], r["extracted_text"], r["decision"]) for r in table.read(spark).collect()}


def test_partial_then_resume(spark, paths):
    pages, payloads, out = paths
    table = SnapshotTable(out, n_buckets=16)

    # "Killed" first run: only a subset of the urls gets committed.
    subset = _slice_pages(pages, out + "_subset.parquet", 0, 40)
    run_and_commit(spark, subset, table, payloads_path=payloads)
    n_after_first = table.read(spark).count()

    # Resume: completes the remaining urls.
    run_and_commit(spark, pages, table, payloads_path=payloads)
    done = {a["partition_id"] for a in table.audit_rows()}
    assert len(done) == 16

    df = table.read(spark)
    total = spark.read.parquet(pages).count()
    assert df.count() == total
    assert df.count() > n_after_first
    # no duplicate urls
    assert df.select("url").distinct().count() == total

    # A third run is a no-op (idempotent): no new snapshot, no new file.
    snap_before = table.current_snapshot()
    res = run_and_commit(spark, pages, table, payloads_path=payloads)
    snap_after = table.current_snapshot()
    assert res["docs_committed"] == 0
    assert snap_after["snapshot_id"] == snap_before["snapshot_id"]
    assert snap_after["data_files"] == snap_before["data_files"]
    assert table.read(spark).count() == total
    audit = table.audit_rows()
    assert len({a["partition_id"] for a in audit}) == 16


def test_audit_lineage_matches_content(spark, paths):
    pages, payloads, out = paths
    table = SnapshotTable(out, n_buckets=8)
    run_and_commit(spark, pages, table, payloads_path=payloads)
    audit = {a["partition_id"]: a for a in table.audit_rows()}
    df = table.read(spark)

    # Recompute the lineage hash from the committed data; must match.
    recomputed = (
        df.groupBy("part_key")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.min("url").alias("url_min"),
            F.max("url").alias("url_max"),
            F.sha2(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("url").alias("u"),
                                         F.sha2(F.coalesce(F.col("extracted_text"), F.lit("")), 256).alias("h"))
                            )
                        ),
                        lambda s: s["h"],
                    ),
                ),
                256,
            ).alias("content_sha256"),
        )
        .collect()
    )
    for r in recomputed:
        a = audit[int(r["part_key"])]
        assert a["doc_count"] == r["doc_count"]
        assert a["url_min"] == r["url_min"]
        assert a["url_max"] == r["url_max"]
        assert a["content_sha256"] == r["content_sha256"]


def test_partial_and_full_runs_identical_content(spark, paths):
    """Two-phase (kill+resume) table content == single-shot table content."""
    pages, payloads, out = paths
    t1 = SnapshotTable(out + "_two_phase", n_buckets=8)
    subset = _slice_pages(pages, out + "_subset.parquet", 100, 200)
    run_and_commit(spark, subset, t1, payloads_path=payloads)
    run_and_commit(spark, pages, t1, payloads_path=payloads)

    t2 = SnapshotTable(out + "_single", n_buckets=8)
    run_and_commit(spark, pages, t2, payloads_path=payloads)

    assert _content(spark, t1) == _content(spark, t2)


def test_rerun_with_empty_buckets_appends_no_snapshot(spark, tmp_path):
    """8 urls in 64 buckets leave most buckets empty; a rerun over the same
    input must still commit nothing: no snapshot, no data file."""
    from ocr_spark.fixtures.corpus import write_corpus

    pages, payloads = write_corpus(str(tmp_path / "corpus"), 8)
    table = SnapshotTable(str(tmp_path / "out"), n_buckets=64)
    first = run_and_commit(spark, pages, table, payloads_path=payloads)
    assert first["docs_committed"] == 8
    snap = table.current_snapshot()
    assert snap["snapshot_id"] == 1
    for _ in range(2):
        res = run_and_commit(spark, pages, table, payloads_path=payloads)
        assert res["docs_committed"] == 0
        assert table.current_snapshot()["snapshot_id"] == 1
        assert table.current_snapshot()["data_files"] == snap["data_files"]
    assert set(res) == {"elapsed_sec", "docs_committed"}
    assert os.listdir(table.data_dir) == [
        os.path.basename(os.path.dirname(snap["data_files"][0]))]


def test_disjoint_inputs_commit_every_url_once(spark, paths, tmp_path):
    """Two page files with disjoint urls into one table: the second run
    commits all of its urls, whatever buckets the first one filled."""
    pages, payloads, out = paths
    first = _slice_pages(pages, str(tmp_path / "first.parquet"), 0, 150)
    second = _slice_pages(pages, str(tmp_path / "second.parquet"), 150)
    table = SnapshotTable(out, n_buckets=16)
    r1 = run_and_commit(spark, first, table, payloads_path=payloads)
    r2 = run_and_commit(spark, second, table, payloads_path=payloads)
    assert r1["docs_committed"] == 150
    assert r2["docs_committed"] == pq.read_metadata(second).num_rows

    urls = [r["url"] for r in table.read(spark).select("url").collect()]
    expected = pq.read_table(pages, columns=["url"]).column("url").to_pylist()
    assert sorted(urls) == sorted(expected)
    assert sum(a["doc_count"] for a in table.audit_rows()) == len(expected)


def test_kill_between_data_write_and_manifest_flip(spark, paths, tmp_path, monkeypatch):
    """A resume run dies after writing its data files but before its
    manifest lands: the current snapshot is untouched, the orphaned run
    directory is never referenced, and a rerun gives the single-shot table."""
    pages, payloads, out = paths
    table = SnapshotTable(out, n_buckets=16)
    subset = _slice_pages(pages, str(tmp_path / "subset.parquet"), 0, 100)
    run_and_commit(spark, subset, table, payloads_path=payloads)
    before = table.current_snapshot()

    def killed(*args, **kwargs):
        raise OSError("killed before the manifest write")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", killed)
        with pytest.raises(OSError, match="killed"):
            run_and_commit(spark, pages, table, payloads_path=payloads)
    assert table.current_snapshot() == before
    referenced = {os.path.dirname(f) for f in before["data_files"]}
    orphans = {os.path.join("data", d) for d in os.listdir(table.data_dir)} - referenced
    assert not orphans

    run_and_commit(spark, pages, table, payloads_path=payloads)
    data_dirs = {os.path.dirname(f) for f in table.current_snapshot()["data_files"]}
    assert not data_dirs & orphans
    single = SnapshotTable(str(tmp_path / "single"), n_buckets=16)
    run_and_commit(spark, pages, single, payloads_path=payloads)
    assert _content(spark, table) == _content(spark, single)
    assert table.read(spark).count() == single.read(spark).count()


def test_rerun_with_null_urls_commits_nothing(spark, paths, tmp_path):
    """A NULL url never matches the url anti-join, so its rows are dropped:
    the table never holds one and a rerun appends no snapshot."""
    import pyarrow as pa

    pages, payloads, out = paths
    t = pq.read_table(pages).slice(0, 40)
    urls = t.column("url").to_pylist()
    urls[3] = urls[17] = None
    nulls = str(tmp_path / "nulls.parquet")
    pq.write_table(t.set_column(t.schema.get_field_index("url"), "url",
                                pa.array(urls, pa.string())), nulls)
    table = SnapshotTable(out, n_buckets=16)
    first = run_and_commit(spark, nulls, table, payloads_path=payloads)
    assert first["docs_committed"] == 38
    snap = table.current_snapshot()
    for _ in range(2):
        res = run_and_commit(spark, nulls, table, payloads_path=payloads)
        assert res["docs_committed"] == 0
        assert table.current_snapshot() == snap
    assert table.read(spark).filter(F.col("url").isNull()).count() == 0
    assert table.read(spark).count() == 38


def test_job_cli_second_run_commits_nothing(spark, tmp_path, capsys):
    """Two in-process runs of the spark-submit entry over the same input:
    the second commits 0 docs and leaves the snapshot id where it was."""
    from ocr_spark import job
    from ocr_spark.fixtures.corpus import write_corpus

    pages, payloads = write_corpus(str(tmp_path / "corpus"), 8)
    argv = ["--pages", pages, "--payloads", payloads,
            "--out", str(tmp_path / "table"), "--cores", "4"]
    lines = []
    try:
        for _ in range(2):
            assert job.main(argv) == 0
            lines.append(json.loads(capsys.readouterr().out.strip().splitlines()[-1]))
    finally:
        spark.sparkContext.setLogLevel("ERROR")
    assert lines[0]["docs_committed"] == 8
    assert lines[1]["docs_committed"] == 0
    assert lines[1]["snapshot_id"] == lines[0]["snapshot_id"] == 1
    assert lines[1]["total_docs_committed"] == 8


def test_snapshot_time_travel(spark, tmp_path):
    """Iceberg VERSION-AS-OF analog: every committed snapshot stays readable
    with exactly the rows it referenced."""
    from ocr_spark.io.tableio import SnapshotTable

    table = SnapshotTable(str(tmp_path / "tt"), n_buckets=8)
    for tag, n in (("a", 5), ("b", 7)):
        df = spark.createDataFrame(
            [(f"u-{tag}-{i}", f"text {tag}{i}") for i in range(n)],
            "url string, extracted_text string",
        )
        table.commit(df)
    assert table.current_snapshot()["snapshot_id"] == 2
    assert table.read_at(spark, 1).count() == 5
    assert table.read_at(spark, 2).count() == 12
    assert table.read(spark).count() == 12
    urls1 = {r["url"] for r in table.read_at(spark, 1).select("url").collect()}
    assert urls1 == {f"u-a-{i}" for i in range(5)}
