"""Unit tests for round-4 batch: interval union (islands), exact-integer
A/B chi-square, acronym-definition mining."""

from __future__ import annotations

import datetime as dt
import os

from ocr_spark.queries import QUERIES


class TestIntervalMerge:
    def test_islands_and_umbrella(self, spark, tmp_path):
        d = str(tmp_path)
        # durations: event_id % 7 + 1 minutes
        rows = [
            # user 1: umbrella [10:00, 10:07) (id 6 -> 7 min) covering
            # [10:01, 10:03) (id 1 -> 2 min), then a gap, then
            # [10:30, 10:31) (id 7 -> 1 min)
            (6, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "a", 1.0, "{}"),
            (1, dt.datetime(2024, 1, 1, 10, 1, 0), 1, "a", 1.0, "{}"),
            (7, dt.datetime(2024, 1, 1, 10, 30, 0), 1, "a", 1.0, "{}"),
            # user 2: touching intervals [9:00, 9:01) + [9:01, 9:03)
            # merge into one island
            (14, dt.datetime(2024, 1, 1, 9, 0, 0), 2, "a", 1.0, "{}"),
            (8, dt.datetime(2024, 1, 1, 9, 1, 0), 2, "a", 1.0, "{}"),
        ]
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value",
                   "props"]
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {r["user_id"]: r.asDict()
               for r in QUERIES["interval_merge"](spark, d).collect()}
        # user 1: 3 raw -> 2 islands; coverage 7 min + 1 min = 480 s
        assert out[1]["n_raw"] == 3
        assert out[1]["n_merged"] == 2
        assert out[1]["covered_sec"] == 480
        assert out[1]["longest_run_sec"] == 420
        # user 2: touching pair merges -> one 3-minute island
        assert out[2]["n_merged"] == 1
        assert out[2]["covered_sec"] == 180


class TestAbExperimentChi2:
    def test_exact_chi2(self, spark, tmp_path):
        d = str(tmp_path)
        rows = []
        eid = 0
        # variant A (user 0): 40 conversions (event_id % 7 == 0 forced
        # by choosing ids), 60 non; variant B (user 1): 10 / 90.
        # Build ids explicitly: converted ids are multiples of 7.
        for _ in range(40):
            rows.append((eid * 7, dt.datetime(2024, 1, 1), 0, "a", 1.0,
                         "{}")); eid += 1
        k = 1
        for _ in range(60):
            while (k % 7) == 0:
                k += 1
            rows.append((k, dt.datetime(2024, 1, 1), 0, "a", 1.0, "{}"))
            k += 1
        for _ in range(10):
            rows.append((eid * 7, dt.datetime(2024, 1, 1), 1, "a", 1.0,
                         "{}")); eid += 1
        for _ in range(90):
            while (k % 7) == 0:
                k += 1
            rows.append((k, dt.datetime(2024, 1, 1), 1, "a", 1.0, "{}"))
            k += 1
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value",
                   "props"]
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["ab_experiment_chi2"](spark, d).collect()[0].asDict()
        assert (out["a"], out["b"], out["c"], out["d"]) == (40, 60, 10, 90)
        assert out["rate_a_bp"] == 4000 and out["rate_b_bp"] == 1000
        # chi2 = 200*(40*90-60*10)^2 / (100*100*50*150) = 24.0
        assert out["chi2_x10000"] == 240000
        assert out["significant"] == 1


class TestAcronymDefs:
    def test_validation(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["acronym_defs"](spark, d).collect()}
        assert out[0]["acronym"] == "CPU"
        assert out[0]["initials"] == "CPU"
        assert out[0]["is_valid"] == 1
        assert out[1]["acronym"] == "FTA"
        assert out[1]["is_valid"] == 1
        # over-capture: initials TBA != NASA
        assert out[2]["acronym"] == "NASA"
        assert out[2]["is_valid"] == 0
        # no definition -> NULLs, is_valid 0 (not NULL)
        assert out[3]["acronym"] is None
        assert out[3]["initials"] is None
        assert out[3]["is_valid"] == 0
