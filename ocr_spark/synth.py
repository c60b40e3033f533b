"""Deterministic synthetic ID-document corpus derived from the driver's
``orders`` table — the input for the reference-semantics extraction queries.

One shared template spec (literal segments + named components) drives BOTH
the Spark Column builder and the DuckDB oracle SQL, so the two engines build
byte-identical texts from the same parquet rows; the ``synth_corpus`` driver
query asserts exactly that, and every extraction query downstream reuses it.

Coverage by construction (k = o_orderkey):
- mode k%3: 0 = aadhaar-style, 1 = PAN-style, 2 = vehicle-RC-style text;
- variant k%4 rotates the extraction strategies the reference implements
  (spaced/continuous/dotted aadhaar + invalid-first-digit decoys, strict /
  ambiguous / OCR-corrupted / split PAN, hyphen / continuous / spaced /
  multi-candidate registration numbers) so every strategy branch of
  functions/extractors.py is exercised, including the reject paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.casespec import case_col, case_sql, sql_str

Seg = tuple[str, str]  # ('lit', text) | ('var', component-name)


class _NoColumn:
    """Arithmetic-absorbing stand-in so the SQL-only path never touches a
    SparkContext (every op returns another _NoColumn; .cast is a no-op)."""

    def _same(self, *a, **kw):
        return self

    __add__ = __radd__ = __mul__ = __rmul__ = __mod__ = __rmod__ = _same
    __eq__ = _same  # type: ignore[assignment]
    cast = _same


def _lit(s: str) -> Seg:
    return ("lit", s)


def _v(name: str) -> Seg:
    return ("var", name)


# --- component definitions -------------------------------------------------
# Each component: (spark_builder(k), duckdb_sql) producing identical strings.

_NAMES_CAP = ["Ramesh Kumar", "Anita Sharma", "Vikram Singh", "Priya Patel", "Arjun Mehta"]
_NAMES_CAPS = ["SURESH RAMAN", "ANIL KUMAR", "DEEPA NAIR", "RAHUL VERMA", "KAVITA RAO"]
_PAN5 = ["ABCPE", "XYZPA", "QWEPT", "LMNPH"]
_PANL = ["F", "K", "Z"]
_STATES = ["MH", "DL", "KA", "XX"]
_SERIES = ["AB", "CD"]


def _case_mod(k_spark: Column | None, k_sql: str, options: list[str]) -> tuple[Column | None, str]:
    """Option ``k % len(options)``: a casespec of one-literal branches."""
    spec = [[opt] for opt in options]
    return (None if k_spark is None else case_col(k_spark, spec)), case_sql(k_sql, spec)


def components(k: Column | None, ksql: str = "o_orderkey") -> dict[str, tuple[Column | None, str]]:
    """Spark/SQL component pairs; pass ``k=None`` for the SQL side only
    (keeps module import and oracle generation Spark-session-free)."""
    out: dict[str, tuple[Column | None, str]] = {}
    if k is None:
        k = _NoColumn()

    def num(name: str, spark_expr, sql_expr: str) -> None:
        out[name] = (spark_expr.cast("string"), f"CAST({sql_expr} AS VARCHAR)")

    def _lpad2(expr):
        return expr if isinstance(expr, _NoColumn) else F.lpad(expr.cast("string"), 2, "0")

    out["dd"] = (
        _lpad2(1 + k % 28),
        f"lpad(CAST(1 + {ksql} % 28 AS VARCHAR), 2, '0')",
    )
    out["mm"] = (
        _lpad2(1 + k % 12),
        f"lpad(CAST(1 + {ksql} % 12 AS VARCHAR), 2, '0')",
    )
    num("yyyy", 1950 + k % 70, f"1950 + {ksql} % 70")
    num("a1", 2000 + (k * 7) % 8000, f"2000 + ({ksql} * 7) % 8000")
    num("a2", 1000 + (k * 13) % 9000, f"1000 + ({ksql} * 13) % 9000")
    num("a3", 1000 + (k * 17) % 9000, f"1000 + ({ksql} * 17) % 9000")
    num("bad1", 1000 + (k * 7) % 1000, f"1000 + ({ksql} * 7) % 1000")
    num("pin", 100001 + (k * 11) % 899999, f"100001 + ({ksql} * 11) % 899999")
    num("pan4d", 1000 + (k * 3) % 9000, f"1000 + ({ksql} * 3) % 9000")
    num("pan4d2", 1000 + (k * 5 + 1) % 9000, f"1000 + ({ksql} * 5 + 1) % 9000")
    num("reg4", 1000 + (k * 9) % 9000, f"1000 + ({ksql} * 9) % 9000")
    num("reg4b", 1000 + (k * 21 + 3) % 9000, f"1000 + ({ksql} * 21 + 3) % 9000")
    num("seats", 1 + k % 9, f"1 + {ksql} % 9")
    kk = None if isinstance(k, _NoColumn) else k
    out["name_cap"] = _case_mod(kk, ksql, _NAMES_CAP)
    out["name_caps"] = _case_mod(kk, ksql, _NAMES_CAPS)
    out["pan5"] = _case_mod(kk, ksql, _PAN5)
    out["panl"] = _case_mod(kk, ksql, _PANL)
    out["state"] = _case_mod(kk, ksql, _STATES)
    out["series"] = _case_mod(kk, ksql, _SERIES)
    out["rto"] = (
        _lpad2(1 + k % 99),
        f"lpad(CAST(1 + {ksql} % 99 AS VARCHAR), 2, '0')",
    )
    # OCR-corrupted PAN digit block: 1->I, 0->O, 5->S, 2->Z
    pan4d_col, pan4d_sql = out["pan4d"]
    out["pan4d_corrupt"] = (
        pan4d_col if isinstance(pan4d_col, _NoColumn) else F.translate(pan4d_col, "1052", "IOSZ"),
        f"translate({pan4d_sql}, '1052', 'IOSZ')",
    )
    return out


# --- templates (mode, variant) -> segments ---------------------------------

TEMPLATES: dict[tuple[int, int], list[Seg]] = {
    # ---- aadhaar mode 0 ----
    (0, 0): [
        _lit("Government of India\nUnique Identification Authority\nName : "),
        _v("name_cap"),
        _lit("\nDOB : "), _v("dd"), _lit("/"), _v("mm"), _lit("/"), _v("yyyy"),
        _lit("\n"), _v("a1"), _lit(" "), _v("a2"), _lit(" "), _v("a3"),
        _lit("\nAddress : 42 Nehru Road Mumbai PIN "), _v("pin"), _lit("\nMALE"),
    ],
    (0, 1): [
        _lit("आधार कार्ड\nभारत सरकार\n"), _v("name_cap"),
        _lit("\naadhaar "), _v("a1"), _v("a2"), _v("a3"), _lit(" combined"),
        _lit("\nDOB : "), _v("yyyy"), _lit("\nFEMALE\npin ०१२३४५ and "), _v("pin"),
    ],
    (0, 2): [
        _v("bad1"), _lit(" "), _v("a2"), _lit(" "), _v("a3"),
        _lit(" triple invalid first\ntokens "), _v("a1"), _lit("- "), _v("a2"),
        _lit(" "), _v("a3"), _lit(" spread\nName : "), _v("name_cap"),
        _lit("\nDOB : "), _v("dd"), _lit("/"), _v("mm"), _lit("/"), _v("yyyy"),
        _lit("\nTRANSGENDER\nEnrollment 1234/12345/12345"),
    ],
    (0, 3): [
        _lit("aadhaar number "), _v("a1"), _lit("."), _v("a2"), _lit("."), _v("a3"),
        _lit("\nVID 1234 5678 9012 3456\nName : "), _v("name_cap"),
        _lit("\nDOB : "), _v("dd"), _v("mm"), _v("yyyy"),
        _lit(" splice\nMALE and address : Flat 7 MG Road Pune "), _v("pin"),
    ],
    # ---- PAN mode 1 ----
    (1, 0): [
        _lit("INCOME TAX DEPARTMENT GOVT. OF INDIA\nPermanent Account Number\n"),
        _v("pan5"), _v("pan4d"), _v("panl"),
        _lit("\nName : "), _v("name_caps"), _lit(".\nFather's Name : ANIL RAJ GUPTA."),
        _lit("\nDOB : "), _v("dd"), _lit("/"), _v("mm"), _lit("/"), _v("yyyy"),
        _lit("\nSignature"),
    ],
    (1, 1): [
        _lit("Permanent Account Number card\nABCPE"), _v("pan4d"), _lit("F and XYZPA"),
        _v("pan4d2"), _lit("K two cards\nName : "), _v("name_caps"),
        _lit(".\nDOB : "), _v("dd"), _lit("-"), _v("mm"), _lit("-"), _v("yyyy"),
    ],
    (1, 2): [
        _lit("income tax pan card\n"), _v("pan5"), _lit(" "),
        _v("pan4d_corrupt"), _v("panl"),
        _lit(" split token\nFather's Name : ANIL RAJ GUPTA.\nSignature here"),
    ],
    (1, 3): [
        _lit("GOVT. OF INDIA pan\n"), _v("pan5"), _v("pan4d_corrupt"), _v("panl"),
        _lit(" loose form\nName : "), _v("name_caps"),
        _lit(".\nDOB : "), _v("dd"), _lit("."), _v("mm"), _lit("."), _v("yyyy"),
    ],
    # ---- vehicle RC mode 2 ----
    (2, 0): [
        _lit("Registration Certificate\nReg No : "),
        _v("state"), _lit("-"), _v("rto"), _lit("-"), _v("series"), _lit("-"), _v("reg4"),
        _lit("\nOwner Name : "), _v("name_cap"), _lit(".\nEngine No : EN"), _v("reg4"),
        _v("rto"), _lit("K\nChassis No : MA"), _v("reg4"), _v("pan4d"),
        _lit("XZ\nFuel DIESEL\nVehicle Class LMV\nseating cap : "), _v("seats"),
    ],
    (2, 1): [
        _lit("vehicle registration certificate\nreg "), _v("state"), _v("rto"),
        _v("series"), _v("reg4"), _lit(" continuous\nOwner Name : "), _v("name_cap"),
        _lit(".\nFuel : PETROL labeled\nwheel base : 2450"),
    ],
    (2, 2): [
        _lit("RTO form 23\n"), _v("state"), _lit(" "), _v("rto"), _lit(" "),
        _v("series"), _lit(" "), _v("reg4"), _lit(" spaced plate\nOwner Name : "),
        _v("name_cap"), _lit(".\nEngine No : EN"), _v("reg4"), _v("rto"),
        _lit("K\nVehicle Class MCWG\nfitness upto : "),
        _v("dd"), _lit("/"), _v("mm"), _lit("/2019"),
    ],
    (2, 3): [
        _lit("registration MH-12-AB-"), _v("reg4"), _lit(" and DL-05-CD-"), _v("reg4b"),
        _lit(" two plates\nOwner Name : "), _v("name_cap"),
        _lit(".\nChassis No : MA"), _v("reg4"), _v("pan4d"), _lit("XZ\nFuel ELECTRIC"),
    ],
}


def synth_text_column(k: Column) -> Column:
    comp = components(k)
    mode = k % 3
    variant = k % 4
    chain = None
    for (m, v), segs in TEMPLATES.items():
        parts = [F.lit(s) if kind == "lit" else comp[s][0] for kind, s in segs]
        branch = F.concat(*parts)
        cond = (mode == m) & (variant == v)
        chain = F.when(cond, branch) if chain is None else chain.when(cond, branch)
    return chain


def synth_text_sql(ksql: str = "o_orderkey") -> str:
    comp = components(None, ksql)
    whens = []
    for (m, v), segs in TEMPLATES.items():
        parts = []
        for kind, s in segs:
            if kind == "lit":
                parts.append(sql_str(s))
            else:
                parts.append(comp[s][1])
        whens.append(f"WHEN {ksql} % 3 = {m} AND {ksql} % 4 = {v} THEN " + " || ".join(parts))
    return "(CASE " + " ".join(whens) + " END)"


def synth_corpus(spark, sf_dir: str) -> DataFrame:
    """(doc_id, mode, text) — one synthetic document per order row.

    The text synthesis and everything downstream of it (classify, extract,
    score) is CPU-dense while the input bytes are tiny: a single-row-group
    orders.parquet scans as ONE split, which would serialize the whole
    stage onto one core. Repartition the pruned key column (8 bytes/row)
    before the expensive projection whenever the scan yields fewer splits
    than cores; with an explicit partition count AQE will not coalesce it
    back down (byte-based coalescing starves CPU-bound stages). At
    production scale the scan has >= cores splits and this is a no-op."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    par = spark.sparkContext.defaultParallelism
    if o.rdd.getNumPartitions() < par:
        o = o.repartition(par * 2)
    k = F.col("o_orderkey")
    return o.select(
        k.alias("doc_id"),
        (k % 3).cast("int").alias("mode"),
        synth_text_column(k).alias("text"),
    )


SYNTH_CORPUS_SQL = (
    "SELECT o_orderkey AS doc_id, CAST(o_orderkey % 3 AS INTEGER) AS mode, "
    + synth_text_sql()
    + " AS text FROM orders"
)
