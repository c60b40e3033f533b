"""Residue-keyed text from one spec, rendered for both engines.

The operator library's synthetic inputs (``synth.py``'s ID-document
components, the doc_id-residue fixtures of the ``queries`` family modules)
are plain input data.
Writing them once per engine adds nothing but a way for the two spellings to
drift, so each is written once, as a spec, and rendered twice:

- a spec is a sequence of branches; a row takes branch ``key % len(spec)``.
  The last branch is the ELSE, so a branch equal to it renders no arm of
  its own, and a spec whose branches all equal the last (one branch, say)
  renders as a plain concatenation, with no CASE;
- a branch is a list of parts, concatenated:
  ``str`` — a literal;
  ``int`` m — ``key % m`` as decimal text;
  ``("mod", m, offset)`` — ``offset + key % m`` as decimal text;
  ``("col", name)`` — the column ``name`` as text;
  a spec — its own CASE on the same key, so independent residues (every
  second row, every third) combine without spelling out their product.

``case_sql`` is pure string work, so ``ORACLE`` module constants can be
built at import with no Spark session. ``case_col`` calls ``F.*``, which
needs an active SparkContext: build it inside the query function.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

Part = str | int | tuple
Spec = Sequence[Sequence[Part]]

_CONTROL = re.compile(r"([\x00-\x1f])")


def sql_str(s: str) -> str:
    """``s`` as a DuckDB string expression. Quotes are doubled; control
    characters (``\\n``, ``\\t``) become ``chr(n)``, so no literal in the SQL
    text spans a line. DuckDB literals take backslashes as-is."""
    out = []
    for piece in _CONTROL.split(s):
        if len(piece) == 1 and _CONTROL.fullmatch(piece):
            out.append(f"chr({ord(piece)})")
        elif piece:
            out.append("'" + piece.replace("'", "''") + "'")
    return " || ".join(out) or "''"


def _part_sql(key: str, p: Part) -> str:
    if isinstance(p, str):
        return sql_str(p)
    if isinstance(p, int):
        return f"CAST({key} % {p} AS VARCHAR)"
    if isinstance(p[0], list):
        return case_sql(key, p)
    if p[0] == "mod":
        return f"CAST({p[2]} + {key} % {p[1]} AS VARCHAR)"
    return f"CAST({p[1]} AS VARCHAR)"


def _part_col(key: Column, p: Part) -> Column:
    if isinstance(p, str):
        return F.lit(p)
    if isinstance(p, int):
        return (key % p).cast("string")
    if isinstance(p[0], list):
        return case_col(key, p)
    if p[0] == "mod":
        return (p[2] + key % p[1]).cast("string")
    return F.col(p[1]).cast("string")


def _branch_sql(key: str, branch: Sequence[Part]) -> str:
    return " || ".join(_part_sql(key, p) for p in branch)


def _branch_col(key: Column, branch: Sequence[Part]) -> Column:
    parts = [_part_col(key, p) for p in branch]
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def case_sql(key: str, spec: Spec) -> str:
    """DuckDB text of ``spec`` keyed on the SQL expression ``key``. A branch
    equal to the last one needs no arm: the ELSE already renders it."""
    *arms, last = spec
    whens = " ".join(
        f"WHEN {key} % {len(spec)} = {i} THEN {_branch_sql(key, b)}"
        for i, b in enumerate(arms) if b != last)
    if not whens:
        return f"({_branch_sql(key, last)})"
    return f"(CASE {whens} ELSE {_branch_sql(key, last)} END)"


def case_col(key: Column, spec: Spec) -> Column:
    """Spark twin of ``case_sql``: the same text, row for row."""
    *arms, last = spec
    out = None
    for i, b in enumerate(arms):
        if b != last:
            cond = key % len(spec) == i
            out = (F.when(cond, _branch_col(key, b)) if out is None
                   else out.when(cond, _branch_col(key, b)))
    last_col = _branch_col(key, last)
    return last_col if out is None else out.otherwise(last_col)
