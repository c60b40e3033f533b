"""Idempotent resume + per-partition lineage (north rule): a killed/partial
run commits only whole buckets; rerunning completes the rest with no
duplicate urls and a final state identical to a single-shot run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.io.tableio import SnapshotTable, run_and_commit


@pytest.fixture()
def paths(corpus_dir, tmp_path):
    return f"{corpus_dir}/pages.parquet", f"{corpus_dir}/payloads.parquet", str(tmp_path / "out")


def test_partial_then_resume(spark, paths):
    pages, payloads, out = paths
    table = SnapshotTable(out, n_buckets=16)

    # "Killed" first run: only 5 buckets get committed.
    run_and_commit(spark, pages, table, payloads_path=payloads, limit_partitions=5)
    assert len(table.committed_partitions()) == 5
    n_after_first = table.read(spark).count()

    # Resume: completes the remaining buckets.
    run_and_commit(spark, pages, table, payloads_path=payloads)
    done = table.committed_partitions()
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
    run_and_commit(spark, pages, t1, payloads_path=payloads, limit_partitions=3)
    run_and_commit(spark, pages, t1, payloads_path=payloads)

    t2 = SnapshotTable(out + "_single", n_buckets=8)
    run_and_commit(spark, pages, t2, payloads_path=payloads)

    a = {(r["url"], r["extracted_text"], r["decision"]) for r in t1.read(spark).collect()}
    b = {(r["url"], r["extracted_text"], r["decision"]) for r in t2.read(spark).collect()}
    assert a == b


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
