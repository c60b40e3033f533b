"""Driver-contract query library: every SURVEY.md §2 operator family gets a
``QUERIES[name]`` Spark implementation over the driver's testdata tables and
(where ANSI-SQL-expressible) an ``ORACLE[name]`` DuckDB twin that must match
row-for-row, value-for-value.

One module per operator family — ``relational``, ``extraction`` (with
``flagship`` and ``golden_pipeline``), ``text``, ``dedup``, ``similarity``,
``graph``, ``web``, ``events``, ``stats``, ``multimodal`` — holds that
family's fixtures, oracle builders and Spark functions and registers its
queries at import; ``registry`` holds ``QUERIES``, ``ORACLE``, ``query``
and the shared scan helpers.

Cross-engine determinism rules used throughout (so the driver's value-hash
compare holds):
- aggregates over floating columns are carried as exact integers (cents /
  basis points) and cast to BIGINT in both engines;
- per-row double arithmetic is written with the identical operation order in
  both dialects (IEEE 754 makes the results bit-equal);
- regexes stay in the common Java-regex/RE2 dialect (no lookbehind, no
  backrefs, explicit ``[0-9०-९]`` digit classes — see functions/extractors.py);
- timestamps are projected as formatted strings;
- booleans are projected as ints.

One spelling per input, two per operator: a synthetic input keyed on
``doc_id % n`` (the ``_RECIPE_TEXT``-style fixtures) is written once, as an
``ocr_spark.casespec`` spec, and rendered for both engines (``_docs_sql`` /
``_docs``, or ``case_sql`` / ``case_col``); an input several queries of a
family read is one module-level constant or helper per engine. The
operator logic under test keeps two independent spellings, Spark and
DuckDB, because the DuckDB twin is the reference the Spark side is checked
against.
"""

from ocr_spark.queries import (  # noqa: F401  (imported to register)
    dedup,
    events,
    extraction,
    graph,
    multimodal,
    relational,
    similarity,
    stats,
    text,
    web,
)
from ocr_spark.queries.extraction import flagship
from ocr_spark.queries.registry import ORACLE, QUERIES, query

__all__ = ["ORACLE", "QUERIES", "flagship", "query"]
