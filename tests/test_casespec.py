"""One spec, two engines: every doc_id-residue fixture in the
``ocr_spark.queries`` family modules renders byte-identical text in Spark
(``case_col``) and DuckDB (``case_sql``), row for row over the sf0.001
documents table."""

from __future__ import annotations

import importlib
import pkgutil

import duckdb
from pyspark.sql import functions as F

from ocr_spark import queries
from ocr_spark.casespec import case_col, case_sql, sql_str

SF_DIR = "/root/testdata/sf0.001"

# Literal edge cases: a quote, a newline, a tab, a backslash, Devanagari,
# the empty string; plus every non-literal part kind, a nested spec and an
# arm equal to the ELSE.
_EDGE = (
    ["it's\na \\ backslash\tदेवनागरी ०१२ ", 3, ""],
    [("col", "lang"), " '' ", ("mod", 9, 1), ("col", "doc_id")],
    [""],
    [(["x", 2], ["y"]), "z"],
    [""],
)


# Module-level fixture specs across the family modules.
N_FIXTURE_SPECS = 91


def _fixture_specs() -> dict:
    specs = {}
    for info in pkgutil.iter_modules(queries.__path__):
        mod = importlib.import_module(f"{queries.__name__}.{info.name}")
        specs.update({n: v for n, v in vars(mod).items()
                      if isinstance(v, tuple) and v
                      and all(isinstance(b, list) for b in v)})
    return specs


def test_sql_str_escapes():
    assert sql_str("") == "''"
    assert sql_str("it's") == "'it''s'"
    assert sql_str("a\nb\t") == "'a' || chr(10) || 'b' || chr(9)"
    assert sql_str("\\d देव") == "'\\d देव'"


def test_every_fixture_spec_renders_identically(spark):
    fixtures = _fixture_specs()
    assert len(fixtures) == N_FIXTURE_SPECS, sorted(fixtures)
    specs = {**fixtures, "_EDGE": _EDGE}
    k = F.col("doc_id")
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", *[case_col(k, s).alias(n) for n, s in specs.items()]
        ).collect()
    }
    cols = ", ".join(f'{case_sql("doc_id", s)} AS "{n}"'
                     for n, s in specs.items())
    want = duckdb.connect().execute(
        f"SELECT doc_id, {cols} "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')").fetchall()
    assert len(want) == len(got) > 0
    bad = set()
    for row in want:
        for name, text in zip(specs, row[1:]):
            spark_text = got[row[0]][name]
            if text is None or spark_text is None \
                    or text.encode() != spark_text.encode():
                bad.add(name)
    assert not bad, sorted(bad)
