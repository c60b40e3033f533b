from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN_ROWS = 300


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark(app_name="ocr_spark_tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def body_docs(spark, tmp_path):
    """``body_docs(n)`` writes an sf dir whose ``documents`` table holds n
    rows (doc_id i, text ``"body i"``) and returns its path; queries whose
    fixtures key on doc_id alone read it."""

    def make(n):
        d = str(tmp_path)
        spark.createDataFrame(
            [(i, f"body {i}") for i in range(n)], ["doc_id", "text"]
        ).write.parquet(os.path.join(d, "documents.parquet"))
        return d

    return make


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """The golden corpus (same rows the checked-in goldens were built from)."""
    from ocr_spark.fixtures.corpus import write_corpus

    d = tmp_path_factory.mktemp("corpus")
    write_corpus(str(d), GOLDEN_ROWS)
    return str(d)


@pytest.fixture(scope="session")
def goldens():
    import json

    path = os.path.join(REPO, "tests", "fixtures", "golden.jsonl")
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    return {r["url"]: r for r in rows}
