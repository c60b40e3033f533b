"""Unit tests for round-4 batch: JSONL corrupt-record ingestion, EWMA
anomaly fold, Benford first-digit audit, HTML form detection."""

from __future__ import annotations

import datetime as dt
import os

from ocr_spark.queries import QUERIES


class TestJsonlIngest:
    def test_permissive_semantics(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["jsonl_ingest"](spark, d).collect()}
        # doc 0: fully valid
        assert out[0]["title"] == "Post 0"
        assert out[0]["views"] == 0
        assert out[0]["n_tags"] == 2
        assert out[0]["is_corrupt"] == 0
        # doc 1: malformed JSON -> all NULL + corrupt
        assert out[1]["title"] is None
        assert out[1]["views"] is None
        assert out[1]["is_corrupt"] == 1
        # doc 2: missing fields are NULL but NOT corrupt
        assert out[2]["title"] is None
        assert out[2]["views"] == 7
        assert out[2]["is_corrupt"] == 0
        # doc 3: type mismatch keeps coercible fields AND flags
        assert out[3]["title"] == "X"
        assert out[3]["views"] is None
        assert out[3]["is_corrupt"] == 1


class TestEwmaAnomaly:
    def test_fold_and_gate(self, spark, tmp_path):
        d = str(tmp_path)
        rows = []
        # 'click': stable 100/day for 4 days then a 400 spike on day 5
        eid = 0
        for day in range(1, 5):
            for _ in range(100):
                rows.append((eid, dt.datetime(2024, 1, day, 12, 0, 0),
                             1, "click", 1.0, "{}"))
                eid += 1
        for _ in range(400):
            rows.append((eid, dt.datetime(2024, 1, 5, 12, 0, 0),
                         1, "click", 1.0, "{}"))
            eid += 1
        # 'view': flat 50/day for 3 days -> no anomaly
        for day in range(1, 4):
            for _ in range(50):
                rows.append((eid, dt.datetime(2024, 1, day, 12, 0, 0),
                             2, "view", 1.0, "{}"))
                eid += 1
        # 'solo': one day only -> filtered out (needs >= 2 days)
        rows.append((eid, dt.datetime(2024, 1, 1, 12, 0, 0),
                     3, "solo", 1.0, "{}"))
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value",
                   "props"]
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {r["event_type"]: r.asDict()
               for r in QUERIES["ewma_anomaly"](spark, d).collect()}
        # click: baseline over [100,100,100,100] = 100; last 400 -> 300%
        assert out["click"]["n_days"] == 5
        assert out["click"]["baseline_ewma"] == 100
        assert out["click"]["last_count"] == 400
        assert out["click"]["anomaly_bp"] == 30000
        assert out["click"]["is_anomalous"] == 1
        # view: baseline 50, last 50 -> 0 bp
        assert out["view"]["anomaly_bp"] == 0
        assert out["view"]["is_anomalous"] == 0
        # solo: single-day series excluded
        assert "solo" not in out


class TestBenfordAudit:
    def test_digit_shares(self, spark, tmp_path):
        d = str(tmp_path)
        # 100 orders: 30 with first digit 1, 18 digit 2, 52 digit 9
        rows = []
        oid = 0
        for _ in range(30):
            rows.append((oid, 1, "O", 150.00, "1996-01-02", "1-URGENT",
                         "c", 0, "x")); oid += 1
        for _ in range(18):
            rows.append((oid, 1, "O", 25.50, "1996-01-02", "1-URGENT",
                         "c", 0, "x")); oid += 1
        for _ in range(52):
            rows.append((oid, 1, "O", 999.99, "1996-01-02", "1-URGENT",
                         "c", 0, "x")); oid += 1
        spark.createDataFrame(
            rows, ["o_orderkey", "o_custkey", "o_orderstatus",
                   "o_totalprice", "o_orderdate", "o_orderpriority",
                   "o_clerk", "o_shippriority", "o_comment"]
        ).write.parquet(os.path.join(d, "orders.parquet"))
        out = {r["digit"]: r.asDict()
               for r in QUERIES["benford_audit"](spark, d).collect()}
        assert set(out) == {1, 2, 9}
        assert out[1]["n"] == 30 and out[1]["obs_bp"] == 3000
        assert out[1]["exp_bp"] == 3010
        # (3000-3010)^2 // 3010 = 100 // 3010 = 0
        assert out[1]["chi2_contrib"] == 0
        assert out[2]["obs_bp"] == 1800
        # digit 9 grossly over-represented: (5200-458)^2 // 458
        assert out[9]["obs_bp"] == 5200
        assert out[9]["chi2_contrib"] == (5200 - 458) ** 2 // 458


class TestHtmlFormDetect:
    def test_priority_typing(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["html_form_detect"](spark, d).collect()}
        assert out[0]["form_type"] == "login"
        assert out[0]["n_inputs"] == 2
        assert out[0]["is_form_page"] == 1
        assert out[1]["form_type"] == "search"
        assert out[2]["form_type"] is None
        assert out[2]["is_form_page"] == 0
        # two forms, email wins the priority among present types
        assert out[3]["n_forms"] == 2
        assert out[3]["form_type"] == "subscribe"
