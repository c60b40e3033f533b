"""Unit + plan-shape tests for round-4 batch: dead-link audit, exact
nearest-rank percentiles, and executed-plan assertions for the round-4
algorithmic operators."""

from __future__ import annotations

import datetime as dt
import os

from ocr_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestBrokenLinks:
    def test_half_dead_by_construction(self, spark, body_docs):
        d = body_docs(10)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["broken_links"](spark, d).collect()}
        # doc 0 -> targets 0,1 both exist
        assert out[0]["n_broken"] == 0 and out[0]["broken_bp"] == 0
        # doc 4 -> targets 8,9 both exist
        assert out[4]["n_broken"] == 0
        # doc 5 -> targets 10,11 both dead
        assert out[5]["n_broken"] == 2 and out[5]["broken_bp"] == 10000
        # every doc has exactly 2 links
        assert all(v["n_links"] == 2 for v in out.values())


class TestLatencyPercentiles:
    def test_nearest_rank_exact(self, spark, tmp_path):
        d = str(tmp_path)
        rows = []
        # 100 events with values 0.000001 * (1..100) -> v_us = 1..100
        for i in range(1, 101):
            rows.append((i, dt.datetime(2024, 1, 1, 12, 0, 0), 1, "lat",
                         i / 1000000.0, "{}"))
        # 3 events for a tiny group: ranks ceil(1.5)=2, ceil(2.85)=3
        for i, v in [(201, 10), (202, 20), (203, 30)]:
            rows.append((i, dt.datetime(2024, 1, 1, 12, 0, 0), 1, "tiny",
                         v / 1000000.0, "{}"))
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value",
                   "props"]
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {r["event_type"]: r.asDict()
               for r in QUERIES["latency_percentiles"](spark, d)
               .collect()}
        assert out["lat"]["p50_us"] == 50
        assert out["lat"]["p95_us"] == 95
        assert out["lat"]["p99_us"] == 99
        # nearest-rank on n=3: p50 -> rank 2, p95/p99 -> rank 3
        assert out["tiny"]["p50_us"] == 20
        assert out["tiny"]["p95_us"] == 30
        assert out["tiny"]["p99_us"] == 30


class TestRound4PlanShapes:
    SF = "/root/testdata/sf0.001"

    def test_benford_joins_are_broadcast(self, spark):
        plan = _plan(QUERIES["benford_audit"](spark, self.SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_mad_medians_broadcast_back(self, spark):
        plan = _plan(QUERIES["mad_outliers"](spark, self.SF))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_waterfill_single_window_no_smj(self, spark):
        plan = _plan(QUERIES["waterfill_budget"](spark, self.SF))
        assert "Window" in plan
        assert "SortMergeJoin" not in plan

    def test_ab_chi2_is_pure_aggregate(self, spark):
        plan = _plan(QUERIES["ab_experiment_chi2"](spark, self.SF))
        assert "Join" not in plan

    def test_interval_merge_user_partitioned_windows(self, spark):
        plan = _plan(QUERIES["interval_merge"](spark, self.SF))
        assert "Window" in plan
        assert "Join" not in plan
