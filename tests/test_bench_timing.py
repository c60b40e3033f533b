"""bench.py's per-query timing rule: a query whose construction runs Spark
jobs is timed as construction + force, every other query as force only on
a plan built once outside the timed window."""

from __future__ import annotations

import bench


def test_lazy_query_times_force_only(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(path)
    calls = []

    def lazy(spark, sf_dir):
        calls.append(sf_dir)
        # reading parquet submits a schema job, which is plan metadata
        return spark.read.parquet(path).selectExpr("id * 2 AS x")

    secs, eager = bench.time_query(spark, lazy, "unused", reps=2)
    assert not eager
    assert len(calls) == 1
    assert secs >= 0


def test_construction_jobs_put_construction_in_the_timed_window(spark):
    calls = []

    def eager_build(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(100).localCheckpoint(eager=True)

    secs, eager = bench.time_query(spark, eager_build, "unused", reps=2)
    assert eager
    # one untimed build to learn eagerness, then one build per timed run
    assert len(calls) in (1 + 2, 1 + 3)
