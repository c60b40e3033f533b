"""Contract guards: the benched suite, the driver suite, and the oracle
library must stay in lockstep (the round-2 verdict's drift finding)."""

from __future__ import annotations

import re


def test_bench_headline_equals_driver_suite():
    import __spark_entry__ as E
    from bench import HEADLINE

    qs = set(E.queries())
    assert set(HEADLINE) == qs, (
        "bench HEADLINE and __spark_entry__.queries() diverged: "
        f"missing from bench: {sorted(qs - set(HEADLINE))}; "
        f"benched but unregistered: {sorted(set(HEADLINE) - qs)}"
    )
    assert len(HEADLINE) == len(set(HEADLINE)), "duplicate HEADLINE entries"


def test_every_query_has_oracle():
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    assert set(qs) == set(oracles), (
        f"rows-only queries (no oracle): {sorted(set(qs) - set(oracles))}; "
        f"orphan oracles: {sorted(set(oracles) - set(qs))}"
    )
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_duplicate_query_registration_raises():
    """The guard is a ValueError, not an assert, so it holds under
    ``python -O``; a rejected registration leaves the registry as it was."""
    import pytest

    from ocr_spark.queries import ORACLE, QUERIES, query

    name = next(iter(QUERIES))
    before = (dict(QUERIES), dict(ORACLE))
    with pytest.raises(ValueError,
                       match=f"duplicate query registration: {name}"):
        query(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert (QUERIES, ORACLE) == before


def test_no_per_row_python_udfs():
    """No row-at-a-time Python in the engine: no udf( registrations, no
    .rdd escapes outside comments (Arrow-batched ops only)."""
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = []
    for p in glob.glob(os.path.join(repo, "ocr_spark", "**", "*.py"),
                       recursive=True):
        src = open(p).read()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"(?<![\w.])udf\(", code) or ".rdd.map" in code:
                bad.append(f"{p}:{i}: {line.strip()}")
    assert not bad, bad
