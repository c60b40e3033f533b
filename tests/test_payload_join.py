"""Payload join: stage B joins stage A with a plain left join on url, so the
strategy is Spark's planner's choice — and the outputs must not depend on it."""

from __future__ import annotations

import os


def test_planner_join_strategy_does_not_change_outputs(spark, corpus_dir):
    from ocr_spark.pipeline import run_pipeline

    pages = os.path.join(corpus_dir, "pages.parquet")
    payloads = os.path.join(corpus_dir, "payloads.parquet")
    cols = ("extracted_text", "decision", "final_score")

    def run() -> tuple[str, dict]:
        df = run_pipeline(spark, pages, payloads)
        rows = {r["url"]: tuple(r[c] for c in cols) for r in df.collect()}
        return df._jdf.queryExecution().executedPlan().toString(), rows

    # the payload side is small: the planner broadcasts it with no hint
    plan, broadcast_rows = run()
    assert "BroadcastHashJoin" in plan, plan

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan, shuffled_rows = run()
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert shuffled_rows == broadcast_rows
