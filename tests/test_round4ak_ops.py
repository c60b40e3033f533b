"""Unit tests for round-4 batch: syndicated paths, Simpson's paradox
audit, majority imputation."""

from __future__ import annotations

import os

from ocr_spark.queries import QUERIES


class TestSyndicatedPaths:
    def test_host_spread(self, spark, body_docs):
        # 100 docs: path = doc%23, host = doc%17. Path '/p/0' carries
        # docs 0, 23, 46, 69, 92 -> hosts 0, 6, 12, 1, 7 -> 5 hosts
        d = body_docs(100)
        out = {r["path"]: r.asDict()
               for r in QUERIES["syndicated_paths"](spark, d).collect()}
        assert out["/p/0"]["n_docs"] == 5
        assert out["/p/0"]["n_hosts"] == 5
        assert out["/p/0"]["syndicated"] == 1
        # every surviving path has >= 2 docs
        assert all(v["n_docs"] >= 2 for v in out.values())


class TestSimpsonsParadox:
    def test_planted_reversal(self, spark, tmp_path):
        d = str(tmp_path)
        rows = [(i, 1, "O", 100.0, "1996-01-02", "P", "c", 0, "x")
                for i in range(2000)]
        spark.createDataFrame(
            rows, ["o_orderkey", "o_custkey", "o_orderstatus",
                   "o_totalprice", "o_orderdate", "o_orderpriority",
                   "o_clerk", "o_shippriority", "o_comment"]
        ).write.parquet(os.path.join(d, "orders.parquet"))
        out = QUERIES["simpsons_paradox"](spark, d).collect()[0].asDict()
        # variant 1 wins within BOTH segments...
        assert out["v1_hi_bp"] > out["v0_hi_bp"]
        assert out["v1_lo_bp"] > out["v0_lo_bp"]
        # ...but loses pooled, because its mix skews to the lo segment
        assert out["v1_pooled_bp"] < out["v0_pooled_bp"]
        assert out["reversed"] == 1


class TestMajorityImpute:
    def test_mode_and_accuracy(self, spark, tmp_path):
        d = str(tmp_path)
        rows = []
        # source sA: langs en x6 (ids 1..6), de x2 (ids 7,8) plus a
        # missing-lang row id 0 (0%11==0) whose truth is 'de' -> the
        # mode 'en' imputes it WRONG. Source sB: all 'fr' with id 11
        # (11%11==0) missing, truth fr -> imputed RIGHT.
        rows.append((0, "t", "de", "sA", 1))
        for i in range(1, 7):
            rows.append((i, "t", "en", "sA", 1))
        for i in (7, 8):
            rows.append((i, "t", "de", "sA", 1))
        rows.append((11, "t", "fr", "sB", 1))
        for i in (12, 13):
            rows.append((i, "t", "fr", "sB", 1))
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["source"]: r.asDict()
               for r in QUERIES["majority_impute"](spark, d).collect()}
        assert out["sA"]["mode_lang"] == "en"
        assert out["sA"]["n_missing"] == 1
        assert out["sA"]["n_correct"] == 0
        assert out["sA"]["acc_bp"] == 0
        assert out["sB"]["mode_lang"] == "fr"
        assert out["sB"]["n_correct"] == 1
        assert out["sB"]["acc_bp"] == 10000
