"""Native Column builders for token normalization (reference
validation/normalization.py) — D1-D5 in SURVEY.md §2.8. Pure Catalyst
expressions: translate / regexp / lpad, no Python in the row path."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_spark import config as C


def devanagari_to_arabic(col: Column) -> Column:
    """D1 — normalization.py:42-48."""
    return F.translate(col, C.DEVANAGARI_DIGITS, C.ARABIC_DIGITS)


def normalize_numeric_field(col: Column) -> Column:
    """D2 — normalization.py:17-40: OCR de-confusion then strip non-[0-9.,-]."""
    src = "".join(C.NUMERIC_CONFUSION.keys())
    dst = "".join(C.NUMERIC_CONFUSION.values())
    return F.regexp_replace(F.translate(col, src, dst), r"[^0-9.,\-]", "")


def normalize_date(col: Column) -> Column:
    """D4 — normalization.py:50-72: to DD/MM/YYYY, else NULL.

    Shape: canonicalize separators once, then pad-in-place — the original
    per-group regexp_extract form referenced the input 8x, and interpreted
    mode re-evaluates the (often expensive, keyword-anchored) input
    expression per reference. Output-identical: DMY with 4-digit year ->
    zero-padded DD/MM/YYYY; YMD flipped likewise; anything else NULL."""
    uni = F.regexp_replace(F.regexp_replace(col, r"[^\d/\-.]", ""), r"[\-.]", "/")

    def pad_dm(x: Column) -> Column:
        # zero-pad 1-digit day then 1-digit month of a D/M/YYYY string
        return F.regexp_replace(
            F.regexp_replace(x, r"^(\d)/", "0$1/"), r"/(\d)/(\d{4})$", "/0$1/$2"
        )

    flip = F.regexp_replace(uni, r"^(\d{4})/(\d{1,2})/(\d{1,2})$", "$3/$2/$1")
    return (
        F.when(uni.rlike(r"^\d{1,2}/\d{1,2}/\d{4}$"), pad_dm(uni))
        .when(uni.rlike(r"^\d{4}/\d{1,2}/\d{1,2}$"), pad_dm(flip))
        .otherwise(F.lit(None).cast("string"))
    )


def is_valid_date(ds: Column, min_year: int = C.DATE_MIN_YEAR) -> Column:
    """Reference date validity (aadhaar.py:292-324 / vehicle_rc.py:382-412):
    day 1-31, month 1-12, 2-digit years mapped >50 -> 19xx else 20xx, year
    within [min_year, 2024] (hardcoded cap replicated)."""
    fmt_ok = ds.rlike(r"^\d{1,2}[/-]\d{1,2}[/-]\d{2,4}")
    parts = F.split(ds, "[/-]")
    three = F.size(parts) == 3
    num_ok = (
        F.get(parts, 0).rlike(r"^\d+$")
        & F.get(parts, 1).rlike(r"^\d+$")
        & F.get(parts, 2).rlike(r"^\d+$")
    )
    # try_cast: ANSI mode errors on cast('') even under a false branch of a
    # boolean AND (no short-circuit in codegen) — null-on-malformed is safe
    # because num_ok already gates the result.
    day = F.get(parts, 0).try_cast("int")
    month = F.get(parts, 1).try_cast("int")
    raw_year = F.get(parts, 2).try_cast("int")
    year = F.when(raw_year < 100, F.when(raw_year > 50, raw_year + 1900).otherwise(raw_year + 2000)).otherwise(raw_year)
    in_range = (
        day.between(1, 31)
        & month.between(1, 12)
        & year.between(min_year, C.DATE_MAX_YEAR)
    )
    return F.coalesce(fmt_ok & three & num_ok & in_range, F.lit(False))


def clean_text(col: Column) -> Column:
    """F10 — utils.py:235-251 (clean_text): strip Devanagari danda/pipes,
    remove stray dashes, drop everything outside the Devanagari-preserving
    keep-class, collapse whitespace. The reference's ``\\w`` (re.UNICODE) is
    written as the dialect-common ``\\p{L}\\p{N}_`` so Java regex, RE2
    (DuckDB oracle) and Python agree character-for-character."""
    x = F.regexp_replace(col, r"[।॥|]+", "")
    x = F.regexp_replace(x, r"\s+[-–—]\s+", " ")
    x = F.regexp_replace(x, "[^\\p{L}\\p{N}_\\sऀ-ॿ.,/:()\\-]", "")
    return F.trim(F.regexp_replace(x, r"\s+", " "))


_MONTH_NAMES = {
    1: ("jan", "january"), 2: ("feb", "february"), 3: ("mar", "march"),
    4: ("apr", "april"), 5: ("may",), 6: ("jun", "june"),
    7: ("jul", "july"), 8: ("aug", "august"),
    9: ("sep", "sept", "september"), 10: ("oct", "october"),
    11: ("nov", "november"), 12: ("dec", "december"),
}


def _month_from_name(name: Column) -> Column:
    """English month name/abbrev (lowercased) -> 1..12, else NULL — the
    textual-month subset dateutil's parserinfo recognizes."""
    chain = None
    for n, names in _MONTH_NAMES.items():
        cond = name.isin(*names)
        chain = F.when(cond, F.lit(n)) if chain is None else chain.when(cond, F.lit(n))
    return chain.otherwise(F.lit(None).cast("int"))


def date_norm_forms(col: Column) -> tuple[Column, Column]:
    """The two normalized views the date parser matches against: ``t``
    (separators to dashes) and ``tt`` (textual-month view: commas out,
    runs of space/dot/dash collapse to one dash, lowercased — "March 5,
    1999" and "5-mar-1999" both become name-number-number /
    number-name-number)."""
    t = F.trim(F.regexp_replace(col, r"[./]", "-"))
    tt = F.lower(F.trim(F.regexp_replace(
        F.regexp_replace(col, r",", " "), r"[.\s/-]+", "-")))
    return t, tt


_DMY_TXT = r"^(\d{1,2})-([a-z]+)-(\d{4})$"
_MDY_TXT = r"^([a-z]+)-(\d{1,2})-(\d{4})$"
_DMY = r"^(\d{1,2})-(\d{1,2})-(\d{4})$"
_YMD = r"^(\d{4})-(\d{1,2})-(\d{1,2})$"


def date_parts(t: Column, tt: Column) -> dict[str, Column]:
    """Every regex capture the parser needs, one regex execution each.
    Materialize these (withColumns) before combine_date_parts when the
    projection runs interpreted — there is no cross-column CSE, and the
    combiner references each part up to twice."""
    return {
        "a": F.regexp_extract(t, _DMY, 1).try_cast("int"),
        "b": F.regexp_extract(t, _DMY, 2).try_cast("int"),
        "y1": F.regexp_extract(t, _DMY, 3).try_cast("int"),
        "y2": F.regexp_extract(t, _YMD, 1).try_cast("int"),
        "m2": F.regexp_extract(t, _YMD, 2).try_cast("int"),
        "d2": F.regexp_extract(t, _YMD, 3).try_cast("int"),
        "d_t1": F.regexp_extract(tt, _DMY_TXT, 1).try_cast("int"),
        "m_t1": _month_from_name(F.regexp_extract(tt, _DMY_TXT, 2)),
        "y_t1": F.regexp_extract(tt, _DMY_TXT, 3).try_cast("int"),
        "m_t2": _month_from_name(F.regexp_extract(tt, _MDY_TXT, 1)),
        "d_t2": F.regexp_extract(tt, _MDY_TXT, 2).try_cast("int"),
        "y_t2": F.regexp_extract(tt, _MDY_TXT, 3).try_cast("int"),
    }


def combine_date_parts(p: dict[str, Column]) -> Column:
    """Pure arithmetic/when combiner over date_parts — no regex here.
    Pattern-match detection rides on the year captures: each pattern ends
    in (\\d{4})$, so "matched" ⟺ that capture cast non-NULL (regexp_extract
    yields '' on no-match, and the four patterns are mutually exclusive by
    their first field)."""
    a, b = p["a"], p["b"]
    # dateutil's field assignment: month-first unless the first field can't
    # be a month
    m1 = F.when(a <= 12, a).otherwise(b)
    d1 = F.when(a <= 12, b).otherwise(a)

    def fmt(y: Column, m: Column, d: Column) -> Column:
        leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
        dim = (
            F.when(m.isin(1, 3, 5, 7, 8, 10, 12), F.lit(31))
            .when(m == 2, F.when(leap, 29).otherwise(28))
            .otherwise(F.lit(30))
        )
        ok = m.between(1, 12) & (d >= 1) & (d <= dim)
        out = F.concat_ws(
            "-", y.cast("string"), F.lpad(m.cast("string"), 2, "0"),
            F.lpad(d.cast("string"), 2, "0"),
        )
        return F.when(ok, out).otherwise(F.lit(None).cast("string"))

    return (
        F.when(p["y1"].isNotNull(), fmt(p["y1"], m1, d1))
        .when(p["y2"].isNotNull(), fmt(p["y2"], p["m2"], p["d2"]))
        .when(p["y_t1"].isNotNull(), fmt(p["y_t1"], p["m_t1"], p["d_t1"]))
        .when(p["y_t2"].isNotNull(), fmt(p["y_t2"], p["m_t2"], p["d_t2"]))
        .otherwise(F.lit(None).cast("string"))
    )


def standardize_date(col: Column) -> Column:
    """D5 — normalization.py:74-89 (standardize_date): separator normalize
    then permissive parse to YYYY-MM-DD. The reference delegates to
    dateutil.parser (month-first; day/month swap when the first field
    exceeds 12; true-calendar validity incl. leap years). This reproduces
    those decisions natively for the separator-structured forms
    a-b-YYYY / YYYY-a-b (with -, . or / separators) and the textual-month
    forms ``D Month YYYY`` / ``Month D, YYYY`` (English names and
    abbreviations, any case); remaining dateutil surface (2-digit years,
    partial dates with today-defaults) -> NULL, documented gap.
    tests/test_oracle_semantics.py fuzzes it against real dateutil.

    Single-expression convenience form: the normalized views and captures
    are inlined (re-evaluated per reference in interpreted projections).
    Hot paths should use :func:`standardize_date_staged`, which runs each
    regex exactly once per row."""
    return combine_date_parts(date_parts(*date_norm_forms(col)))


def standardize_date_staged(df, col: Column, out_name: str):
    """Append ``out_name`` = standardize_date(col) to ``df`` via staged
    projections: normalized forms, then regex captures, then the pure
    combiner — each alias multi-referenced downstream, so CollapseProject
    keeps the stages and every regex runs ONCE per row (the inline form
    re-runs the normalize chain ~8x and each extract per reference).
    Measured 2.7 s → sub-second on the sf0.1 date_standardize query."""
    t, tt = date_norm_forms(col)
    staged = df.withColumns({"__sd_t": t, "__sd_tt": tt})
    parts = date_parts(F.col("__sd_t"), F.col("__sd_tt"))
    staged = staged.withColumns({f"__sd_{k}": v for k, v in parts.items()})
    out = combine_date_parts({k: F.col(f"__sd_{k}") for k in parts})
    return staged.withColumn(out_name, out).drop(
        "__sd_t", "__sd_tt", *[f"__sd_{k}" for k in parts])


def non_empty(col: Column) -> Column:
    """regexp_extract returns '' on no-match; promote to NULL for coalesce."""
    return F.nullif(col, F.lit(""))
