"""X1-X18 — field extraction as native Catalyst expressions.

Each builder mirrors the reference extractor semantics exactly (differential-
tested against ocr_spark.oracle.reference_semantics on the fixture corpus):
multi-strategy fallbacks become coalesce() chains over regexp_extract_all +
higher-order array functions; sequential scans (aadhaar 4-digit-triple
strategy, PAN adjacent-word combine) become transform(sequence(...)) index
arithmetic. Zero per-row Python.

Known dialect caveat (documented, covered by tests): Python `\\d`/`isalpha`
are Unicode-aware while Java regex classes are ASCII; parity is kept by
translating Devanagari digits before numeric regexes (the only non-ASCII
digits in scope, mirroring the reference's own convert_devanagari_to_arabic
call sites) and by using \\p{L} where the reference uses str.isalpha().
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_spark import config as C
from ocr_spark.functions.normalize import (
    devanagari_to_arabic,
    is_valid_date,
    non_empty,
    normalize_date,
)

# ---------------------------------------------------------------------------
# shared name validity (aadhaar.py:236-266 / pan.py:248-282 / vehicle_rc.py:253-283)
# ---------------------------------------------------------------------------


def _is_valid_name(name: Column, stoplist: list[str], max_len: int | None = None) -> Column:
    """Semantics of the original split/forall/contains chain, restructured to
    reference `name` only 3x: interpreted mode re-evaluates the (expensive)
    candidate expression once per reference, and the old shape touched it
    ~11x. Equivalences: the shape regex ^\\p{L}{2,}( \\p{L}{2,})+$ is exactly
    "split on single spaces yields >= 2 tokens, every token >= 2 letters"
    (consecutive spaces produce an empty token and fail both forms); the
    stoplist alternation is exactly any-substring-contains."""
    import re as _re

    stop_re = "|".join(_re.escape(kw.lower()) for kw in stoplist)
    cond = (~F.lower(name).rlike(stop_re)) & name.rlike(r"^\p{L}{2,}( \p{L}{2,})+$")
    if max_len is not None:
        cond = cond & (F.length(name) <= max_len)
    return F.coalesce(cond, F.lit(False))


def _first(arr: Column) -> Column:
    return F.get(arr, 0)


# ---------------------------------------------------------------------------
# Aadhaar (documents/aadhaar.py)
# ---------------------------------------------------------------------------


def _valid_aadhaar(c: Column) -> Column:
    """aadhaar.py:150-172 — 12 digits, first not 0/1, after Devanagari fold."""
    return devanagari_to_arabic(c).rlike(r"^[2-9][0-9]{11}$")


_D = C.DIGIT  # [0-9०-९]: Python \d parity on the reference's digit universe


def aadhaar_number(text: Column, words: Column) -> Column:
    """X1 — aadhaar.py:84-148, 4 strategies in order. Matches return the RAW
    span (Devanagari digits kept, like Python re); only validation folds."""
    s1_matches = F.regexp_extract_all(
        text, F.lit(rf"\b{_D}{{4}}[\s.\-]+{_D}{{4}}[\s.\-]+{_D}{{4}}\b"), 0
    )
    s1 = _first(
        F.filter(
            F.transform(s1_matches, lambda m: F.regexp_replace(m, r"[\s.\-]+", "")),
            _valid_aadhaar,
        )
    )
    s2 = _first(F.filter(F.regexp_extract_all(text, F.lit(rf"\b({_D}{{12}})\b"), 1), _valid_aadhaar))
    # Strategy 3 — consecutive 4-digit word triple (aadhaar.py:125-148).
    # zip_with over shifted slices, not transform(sequence) with an outer
    # digit_words reference (outer arrays in HOF lambdas re-evaluate per
    # element — O(W^2) per row).
    digit_words = F.filter(
        F.transform(words, lambda w: F.regexp_replace(w, rf"[^{C.DIGIT[1:-1]}]", "")),
        lambda w: F.length(w) == 4,
    )
    n = F.size(digit_words)
    m = n - 2
    triples = F.when(
        n >= 3,
        F.zip_with(
            F.zip_with(F.slice(digit_words, 1, m), F.slice(digit_words, 2, m),
                       lambda x, y: F.concat(x, y)),
            F.slice(digit_words, 3, m),
            lambda x, y: F.concat(x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s3 = _first(F.filter(triples, _valid_aadhaar))
    s4_raw = F.regexp_extract(
        text, rf"(?is)(?:aadhaar|आधार).*?({_D}{{4}}[\s.\-]*{_D}{{4}}[\s.\-]*{_D}{{4}})", 1
    )
    s4_clean = F.regexp_replace(s4_raw, r"[\s.\-]+", "")
    s4 = F.when((s4_raw != "") & _valid_aadhaar(s4_clean), s4_clean)
    return F.coalesce(s1, s2, s3, s4)


def aadhaar_vid(text: Column) -> Column:
    """X3 — aadhaar.py:174-191 (isdigit check is Unicode in Python — fold
    only for the check, return the raw span)."""
    raw = F.regexp_extract(
        text, rf"(?is)(?:vid|virtual\s+id).*?({_D}{{4}}\s*{_D}{{4}}\s*{_D}{{4}}\s*{_D}{{4}})", 1
    )
    vid = F.regexp_replace(raw, r"\s+", "")
    return F.when(devanagari_to_arabic(vid).rlike(r"^\d{16}$"), vid)


def _clean_name(raw: Column) -> Column:
    """aadhaar.py:213-218 noise strip + CamelCase split + ws collapse."""
    x = F.regexp_replace(F.trim(raw), r"[@:.,]", " ")
    x = F.regexp_replace(x, r"([a-z])([A-Z])", r"$1 $2")
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def aadhaar_name(text: Column, lines: Column) -> Column:
    """X4 — aadhaar.py:193-234 (both regex strategies are case-SENSITIVE,
    aadhaar.py:211 re.search without flags)."""
    c1 = _clean_name(F.regexp_extract(text, r"(?:name|नाम)\s*:?\s*([A-Za-z\s]{3,50})", 1))
    c2 = _clean_name(F.regexp_extract(text, r"([A-Z][a-z]+(?:[\s@:.,]*[A-Z][a-z]+)+)", 1))
    # Lines strategy (aadhaar.py:225-232): the ^Cap.*Cap regex applies to the
    # RAW stripped line; the CamelCase split + validity check apply to the
    # transformed candidate.
    def _camel(t: Column) -> Column:
        return F.regexp_replace(t, r"([a-z])([A-Z])", r"$1 $2")

    line_hits = F.filter(
        F.when(F.size(lines) > 2, F.slice(lines, 2, 3)).otherwise(F.array().cast("array<string>")),
        lambda l: F.trim(l).rlike(r"^[A-Z][a-z]+.*[A-Z][a-z]+")
        & _is_valid_name(_camel(F.trim(l)), C.NAME_STOPLIST_AADHAAR),
    )
    line_cand = F.when(F.size(line_hits) > 0, _camel(F.trim(_first(line_hits))))
    return F.coalesce(
        F.when((c1 != "") & _is_valid_name(c1, C.NAME_STOPLIST_AADHAAR), c1),
        F.when((c2 != "") & _is_valid_name(c2, C.NAME_STOPLIST_AADHAAR), c2),
        line_cand,
    )


def aadhaar_dob(text: Column, arab: Column | None = None) -> Column:
    """X5 — the SECOND _extract_dob definition wins (aadhaar.py:438-454).
    ``arab`` lets callers share ONE Devanagari fold of the text across the
    four folding extractors (interpreted mode has no cross-column CSE)."""
    t = arab if arab is not None else devanagari_to_arabic(text)
    val = F.regexp_extract(
        t, r"(?i)(?:dob|date\s+of\s+birth|yob|year\s+of\s+birth)\s*[:.\-]?\s*(\d{2}/\d{2}/\d{4}|\d{4})", 1
    )
    return F.when(val != "",
                  F.when(F.length(val) == 4, F.concat(F.lit("01/01/"), val)).otherwise(normalize_date(val)))


def aadhaar_gender(text: Column) -> Column:
    """X6 — second _extract_gender definition (aadhaar.py:420-436)."""
    return (
        F.when(text.rlike(r"(?i)\bMALE\b"), F.lit("Male"))
        .when(text.rlike(r"(?i)\bFEMALE\b"), F.lit("Female"))
        .when(text.rlike(r"(?i)\bTRANSGENDER\b"), F.lit("Other"))
        .when(text.rlike("पुरुष"), F.lit("Male"))
        .when(text.rlike("महिला"), F.lit("Female"))
    )


def aadhaar_pin(text: Column, arab: Column | None = None) -> Column:
    """X7 — aadhaar.py:383-395."""
    t = arab if arab is not None else devanagari_to_arabic(text)
    return _first(
        F.filter(
            F.regexp_extract_all(t, F.lit(r"\b(\d{6})\b"), 1),
            lambda p: F.substring(p, 1, 1) != "0",
        )
    )


def aadhaar_enrollment(text: Column, arab: Column | None = None) -> Column:
    """X8 — aadhaar.py:397-403."""
    t = arab if arab is not None else devanagari_to_arabic(text)
    return non_empty(F.regexp_extract(t, r"\b(\d{4}/\d{5}/\d{5})\b", 1))


def aadhaar_address(text: Column) -> Column:
    """X10 — second _extract_address definition (aadhaar.py:456-465)."""
    raw = F.regexp_extract(text, r"(?is)(?:address|pata)\s*[:.\-]\s*(.+?)(?:\d{6}|$)", 1)
    return F.when(raw != "", F.trim(F.regexp_replace(raw, r"\s+", " ")))


def aadhaar_issue_date(text: Column, arab: Column | None = None) -> Column:
    """X9 — aadhaar.py:405-418: first normalizable DD/MM/YYYY anywhere."""
    t = arab if arab is not None else devanagari_to_arabic(text)
    return _first(
        F.filter(
            F.transform(F.regexp_extract_all(t, F.lit(r"\b(\d{2}/\d{2}/\d{4})\b"), 1), normalize_date),
            lambda d: d.isNotNull(),
        )
    )


def aadhaar_fields(text: Column, words: Column, lines: Column,
                   arab: Column | None = None) -> dict[str, Column]:
    """Pass ``arab`` (a materialized devanagari_to_arabic(text) column) to
    fold the text ONCE per row instead of once per consuming field — the
    projection runs interpreted (HOFs disable codegen), and interpreted mode
    re-evaluates shared subtrees per output column."""
    if arab is None:
        arab = devanagari_to_arabic(text)
    return {
        "aadhaar_number": aadhaar_number(text, words),
        "vid": aadhaar_vid(text),
        "name": aadhaar_name(text, lines),
        "date_of_birth": aadhaar_dob(text, arab),
        "gender": aadhaar_gender(text),
        "pin_code": aadhaar_pin(text, arab),
        "enrollment_id": aadhaar_enrollment(text, arab),
        "address": aadhaar_address(text),
        "issue_date": aadhaar_issue_date(text, arab),
    }


# ---------------------------------------------------------------------------
# PAN (documents/pan.py)
# ---------------------------------------------------------------------------

_PAN_ALPHA_SRC = "".join(C.PAN_TO_ALPHA.keys())
_PAN_ALPHA_DST = "".join(C.PAN_TO_ALPHA.values())
_PAN_DIGIT_SRC = "".join(C.PAN_TO_DIGIT.keys())
_PAN_DIGIT_DST = "".join(C.PAN_TO_DIGIT.values())


def _valid_pan(c: Column) -> Column:
    """pan.py:159-182."""
    return c.rlike(r"^[A-Z]{5}[0-9]{4}[A-Z]$") & F.substring(c, 4, 1).isin(C.PAN_VALID_FOURTH)


def _fuzzy_correct_pan(c: Column) -> Column:
    """X12 — pan.py:117-157 via positional translate; unfixable characters
    survive the translate and are screened out by _valid_pan downstream,
    matching the reference's return-None-then-skip behavior."""
    head = F.translate(F.substring(c, 1, 5), _PAN_ALPHA_SRC, _PAN_ALPHA_DST)
    mid = F.translate(F.substring(c, 6, 4), _PAN_DIGIT_SRC, _PAN_DIGIT_DST)
    tail = F.translate(F.substring(c, 10, 1), _PAN_ALPHA_SRC, _PAN_ALPHA_DST)
    return F.concat(head, mid, tail)


def pan_number(text: Column, words: Column) -> Column:
    """X11 — pan.py:61-115: strict (distinct>1 -> hard NULL), fuzzy-corrected
    10-char tokens + adjacent-word combos, loose pattern."""
    up = F.upper(text)
    strict = F.array_distinct(
        F.filter(F.regexp_extract_all(up, F.lit(r"\b([A-Z]{5}[0-9]{4}[A-Z])\b"), 1), _valid_pan)
    )
    tokens = F.filter(F.split(up, r"[\s.,:;\-]+"), lambda t: F.length(t) == 10)
    # Adjacent-word combine via zip_with over shifted slices (same O(W^2)
    # outer-reference pitfall as the aadhaar triple strategy).
    nw = F.size(words)
    m2 = nw - 1
    combos = F.when(
        nw >= 2,
        F.filter(
            F.zip_with(
                F.slice(words, 1, m2), F.slice(words, 2, m2),
                lambda x, y: F.regexp_replace(F.upper(F.concat(x, y)), "[^A-Z0-9]", ""),
            ),
            lambda t: F.length(t) == 10,
        ),
    ).otherwise(F.array().cast("array<string>"))
    s2 = _first(
        F.filter(F.transform(F.concat(tokens, combos), _fuzzy_correct_pan), _valid_pan)
    )
    loose = F.regexp_extract_all(up, F.lit(r"([A-Z]{5})([0-9IOZS]{4})([A-Z0-9])"), 0)
    s3 = _first(F.filter(F.transform(loose, _fuzzy_correct_pan), _valid_pan))
    return (
        F.when(F.size(strict) > 1, F.lit(None).cast("string"))
        .when(F.size(strict) == 1, _first(strict))
        .otherwise(F.coalesce(s2, s3))
    )


def pan_name(text: Column, lines: Column) -> Column:
    """pan.py:184-220 (regex strategies case-sensitive, pan.py:201)."""
    c1 = F.trim(F.regexp_replace(F.trim(F.regexp_extract(text, r"(?:name|नाम)\s*:?\s*([A-Z][A-Z\s]{3,50})", 1)), r"\s+", " "))
    c2 = F.trim(F.regexp_replace(F.trim(F.regexp_extract(text, r"([A-Z][A-Z\s]+(?:[A-Z][A-Z\s]+)+)", 1)), r"\s+", " "))
    line_cands = F.filter(
        F.when(F.size(lines) > 2, F.transform(lines, F.trim)).otherwise(F.array().cast("array<string>")),
        lambda t: t.rlike(r"^[A-Z][A-Z\s]{5,}$") & _is_valid_name(t, C.NAME_STOPLIST_PAN, 50),
    )
    return F.coalesce(
        F.when((c1 != "") & _is_valid_name(c1, C.NAME_STOPLIST_PAN, 50), c1),
        F.when((c2 != "") & _is_valid_name(c2, C.NAME_STOPLIST_PAN, 50), c2),
        _first(line_cands),
    )


def pan_father_name(text: Column) -> Column:
    """X14 — pan.py:222-246 (IGNORECASE)."""
    raw = F.regexp_extract(text, r"(?i)(?:father'?s?\s+name|पिता का नाम)\s*:?\s*([A-Z][A-Z\s]{3,50})", 1)
    name = F.trim(F.regexp_replace(F.trim(raw), r"\s+", " "))
    return F.when((raw != "") & _is_valid_name(name, C.NAME_STOPLIST_PAN, 50), name)


def pan_dob(text: Column) -> Column:
    """pan.py:284-306."""
    c1 = F.regexp_extract(
        text, r"(?i)(?:dob|date\s+of\s+birth|जन्म\s+तिथि)\s*:?\s*(\d{1,2}[/.\-]\d{1,2}[/.\-]\d{2,4})", 1
    )
    c2 = F.regexp_extract(text, r"(\d{1,2}[/.\-]\d{1,2}[/.\-]\d{4})", 1)
    return F.coalesce(
        F.when((c1 != "") & is_valid_date(c1), c1),
        F.when((c2 != "") & is_valid_date(c2), c2),
    )


def pan_signature(text: Column) -> Column:
    """X15 — pan.py:342-344."""
    return text.rlike(r"(?i)(?:signature|sign|hastakshar|हस्ताक्षर)")


def pan_fields(text: Column, words: Column, lines: Column) -> dict[str, Column]:
    num = pan_number(text, words)
    return {
        "pan_number": num,
        "id_number": num,  # alias, pan.py:37
        "name": pan_name(text, lines),
        "father_name": pan_father_name(text),
        "date_of_birth": pan_dob(text),
        "signature_present": F.when(pan_signature(text), F.lit("true")),
    }


# ---------------------------------------------------------------------------
# Vehicle RC (documents/vehicle_rc.py)
# ---------------------------------------------------------------------------


def _valid_reg(cont: Column) -> Column:
    """vehicle_rc.py:195-224 on the continuous (separator-free) form."""
    return (
        cont.rlike(r"^[A-Z]{2}\d{2}[A-Z]{1,2}\d{4}$")
        & F.substring(cont, 1, 2).isin(C.RC_STATE_CODES)
        & (F.substring(cont, 3, 2) != "00")
    )


def _format_reg(cont: Column) -> Column:
    return F.regexp_replace(cont, r"^([A-Z]{2})(\d{2})([A-Z]{1,2})(\d{4})$", r"$1-$2-$3-$4")


def rc_registration(text: Column) -> Column:
    """X16 — vehicle_rc.py:126-164: candidate SET, ambiguity -> NULL."""
    up = F.upper(text)
    m1 = F.regexp_extract_all(
        up, F.lit(r"\b[A-Z]{2}\s*-?\s*\d{2}\s*-?\s*[A-Z]{1,2}\s*-?\s*\d{4}\b"), 0
    )
    cont1 = F.transform(m1, lambda m: F.regexp_replace(m, r"[\s\-]+", ""))
    m2 = F.regexp_extract_all(up, F.lit(r"\b([A-Z]{2}\d{2}[A-Z]{1,2}\d{4})\b"), 1)
    cands = F.array_distinct(
        F.transform(F.filter(F.concat(cont1, m2), _valid_reg), _format_reg)
    )
    return F.when(F.size(cands) == 1, _first(cands))


def rc_owner_name(text: Column) -> Column:
    """vehicle_rc.py:226-251 (IGNORECASE)."""
    out = None
    for pat in (
        r"(?i)(?:owner|owner'?s?\s+name|registered\s+owner)\s*:?\s*([A-Z][A-Za-z\s]{3,50})",
        r"(?i)(?:name|नाम)\s*:?\s*([A-Z][A-Za-z\s]{3,50})",
    ):
        raw = F.regexp_extract(text, pat, 1)
        name = F.trim(F.regexp_replace(F.trim(raw), r"\s+", " "))
        cand = F.when((raw != "") & _is_valid_name(name, C.NAME_STOPLIST_RC), name)
        out = cand if out is None else F.coalesce(out, cand)
    return out


def rc_make_model(text: Column) -> Column:
    out = None
    for pat in (
        r"(?i)(?:make|maker|manufacturer)\s*:?\s*([A-Za-z0-9\s]{3,30})",
        r"(?i)(?:model)\s*:?\s*([A-Za-z0-9\s]{3,30})",
    ):
        raw = F.regexp_extract(text, pat, 1)
        mm = F.regexp_replace(F.trim(raw), r"\s+", " ")
        cand = F.when((raw != "") & (F.length(mm) >= 3), mm)
        out = cand if out is None else F.coalesce(out, cand)
    return out


def rc_engine(text: Column) -> Column:
    raw = F.regexp_extract(text, r"(?i)(?:engine\s+(?:no|number)|e\s*no)\s*:?\s*([A-Z0-9]{6,20})", 1)
    up = F.upper(F.trim(raw))
    return F.when((raw != "") & up.rlike(r"^[A-Z0-9]{6,20}$"), up)


def rc_chassis(text: Column) -> Column:
    raw = F.regexp_extract(text, r"(?i)(?:chassis\s+(?:no|number)|c\s*no|vin)\s*:?\s*([A-Z0-9]{10,20})", 1)
    up = F.upper(F.trim(raw))
    return F.when((raw != "") & up.rlike(r"^[A-Z0-9]{10,20}$"), up)


def rc_registration_date(text: Column) -> Column:
    c1 = F.regexp_extract(
        text,
        r"(?i)(?:registration\s+date|reg\s*date|date\s+of\s+registration)\s*:?\s*(\d{1,2}[/.\-]\d{1,2}[/.\-]\d{2,4})",
        1,
    )
    c2 = F.regexp_extract(text, r"(\d{1,2}[/.\-]\d{1,2}[/.\-]\d{4})", 1)
    return F.coalesce(
        F.when((c1 != "") & is_valid_date(c1, C.DATE_MIN_YEAR_RC), c1),
        F.when((c2 != "") & is_valid_date(c2, C.DATE_MIN_YEAR_RC), c2),
    )


def rc_vehicle_class(text: Column) -> Column:
    """vehicle_rc.py:448-476: labeled value if in known list, else direct scan."""
    up = F.upper(text)
    labeled = F.upper(F.regexp_extract(text, r"(?i)(?:vehicle\s+class|class)\s*:?\s*([A-Z\-]{2,10})", 1))
    out = F.when(labeled.isin(C.VEHICLE_CLASSES), labeled)
    for vc in C.VEHICLE_CLASSES:
        out = out.when(up.rlike(r"\b" + vc + r"\b"), F.lit(vc))
    return out


def rc_fuel(text: Column) -> Column:
    """vehicle_rc.py:414-429."""
    up = F.upper(text)
    labeled = F.upper(F.regexp_extract(text, r"(?i)(?:fuel|propulsion)\s*:?\s*([A-Za-z]+)", 1))
    has_fuel_word = F.array_contains(
        F.array(*[labeled.contains(f) for f in C.FUEL_TYPES]), F.lit(True)
    )
    out = F.when((labeled != "") & has_fuel_word, labeled)
    for f in C.FUEL_TYPES:
        out = out.when(up.rlike(r"\b" + f + r"\b"), F.lit(f))
    return out


def rc_seating(text: Column) -> Column:
    return non_empty(F.regexp_extract(text, r"(?i)(?:seating|cap|seat)\s*(?:cap)?\s*[:.]?\s*(\d{1,2})", 1))


def rc_generic(text: Column, keywords: list[str], value_pattern: str) -> Column:
    """vehicle_rc.py:438-446."""
    pat = r"(?i)(?:" + "|".join(keywords) + r")\s*[:.\-]?\s*" + value_pattern
    return non_empty(F.regexp_extract(text, pat, 1))


def rc_hypothecation(text: Column) -> Column:
    raw = F.regexp_extract(
        text,
        r"(?i)(?:hypothecation|hypothecated|financed|hpa|hp)\s*(?:by|to|with)?\s*[:.\-]?\s*([A-Z0-9\s.,&]+)",
        1,
    )
    v = F.trim(raw)
    return F.when((raw != "") & (F.length(v) > 3), v)


def rc_dated(text: Column, head: str) -> Column:
    raw = F.regexp_extract(text, r"(?i)" + head + r"\s*(?:valid|upto)?\s*[:.\-]?\s*(\d{2}[/.\-]\d{2}[/.\-]\d{4})", 1)
    return F.when(raw != "", normalize_date(raw))


def rc_mfg(text: Column) -> Column:
    return non_empty(
        F.regexp_extract(text, r"(?i)(?:mfg|manufacturing)\s*(?:date)?\s*[:.\-]?\s*(\d{2}[/.\-]\d{4}|\d{4})", 1)
    )


def rc_fields(text: Column, words: Column, lines: Column) -> dict[str, Column]:
    owner = rc_owner_name(text)
    return {
        "registration_number": rc_registration(text),
        "owner_name": owner,
        "name": owner,  # alias, vehicle_rc.py:54
        "vehicle_make_model": rc_make_model(text),
        "engine_number": rc_engine(text),
        "chassis_number": rc_chassis(text),
        "registration_date": rc_registration_date(text),
        "vehicle_class": rc_vehicle_class(text),
        "fuel_type": rc_fuel(text),
        "seating_capacity": rc_seating(text),
        "wheelbase": rc_generic(text, ["wheel", "base", "wb"], r"(\d{4})"),
        "unladen_weight": rc_generic(text, ["unladen", "ulw", "wt"], r"(\d{3,5})"),
        "vehicle_color": rc_generic(text, ["colour", "color"], r"([A-Z]{3,10})"),
        "hypothecation": rc_hypothecation(text),
        "fitness_validity_date": rc_dated(text, r"(?:fitness|fit)"),
        "insurance_validity_date": rc_dated(text, r"(?:insurance|ins)"),
        "manufacturing_date": rc_mfg(text),
    }


FIELD_BUILDERS = {"aadhaar": aadhaar_fields, "pan": pan_fields, "vehicle_rc": rc_fields}

# Union of all field names across the three extractors, in a stable order.
ALL_FIELDS: list[str] = []
for _ft in ("aadhaar", "pan", "vehicle_rc"):
    for _k in {
        "aadhaar": ["aadhaar_number", "vid", "name", "date_of_birth", "gender",
                     "pin_code", "enrollment_id", "address", "issue_date"],
        "pan": ["pan_number", "id_number", "name", "father_name", "date_of_birth",
                 "signature_present"],
        "vehicle_rc": ["registration_number", "owner_name", "name", "vehicle_make_model",
                        "engine_number", "chassis_number", "registration_date",
                        "vehicle_class", "fuel_type", "seating_capacity", "wheelbase",
                        "unladen_weight", "vehicle_color", "hypothecation",
                        "fitness_validity_date", "insurance_validity_date",
                        "manufacturing_date"],
    }[_ft]:
        if _k not in ALL_FIELDS:
            ALL_FIELDS.append(_k)


# Full Verhoeff checksum (dihedral group D5): the validation the
# reference STUBS OUT at aadhaar.py:170-172 ("Basic Verhoeff algorithm
# check (simplified) / In production, implement full Verhoeff
# validation" — followed by `return True`). This is that production
# implementation: multiplication table d, permutation table p, and the
# digit fold c = d[c][p[i mod 8][digit_i]] over the reversed number,
# valid iff c == 0. Real Aadhaar numbers are Verhoeff-valid by issuance,
# so this catches single-digit OCR errors and adjacent transpositions —
# exactly the corruption modes OCR produces — that the 12-digit/
# first-digit format rules cannot.
VERHOEFF_D = [
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 9],
    [1, 2, 3, 4, 0, 6, 7, 8, 9, 5],
    [2, 3, 4, 0, 1, 7, 8, 9, 5, 6],
    [3, 4, 0, 1, 2, 8, 9, 5, 6, 7],
    [4, 0, 1, 2, 3, 9, 5, 6, 7, 8],
    [5, 9, 8, 7, 6, 0, 4, 3, 2, 1],
    [6, 5, 9, 8, 7, 1, 0, 4, 3, 2],
    [7, 6, 5, 9, 8, 2, 1, 0, 4, 3],
    [8, 7, 6, 5, 9, 3, 2, 1, 0, 4],
    [9, 8, 7, 6, 5, 4, 3, 2, 1, 0],
]
VERHOEFF_P = [
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 9],
    [1, 5, 7, 6, 2, 8, 3, 0, 9, 4],
    [5, 8, 0, 3, 7, 9, 6, 1, 4, 2],
    [8, 9, 1, 6, 0, 4, 3, 5, 2, 7],
    [9, 4, 5, 3, 1, 2, 6, 8, 7, 0],
    [4, 2, 8, 6, 5, 7, 3, 9, 0, 1],
    [2, 7, 9, 3, 8, 0, 6, 4, 1, 5],
    [7, 0, 4, 6, 9, 1, 3, 2, 5, 8],
]


def _nested_array_sql(rows: list[list[int]]) -> str:
    return ("array(" + ", ".join(
        "array(" + ", ".join(str(v) for v in r) + ")" for r in rows)
        + ")")


def verhoeff_valid(number: Column) -> Column:
    """1 when the all-digit string passes the full Verhoeff checksum,
    else 0 (non-digit or empty input yields 0). Pure codegen: the two
    group tables are literal nested arrays and the digit fold is one
    in-row aggregate — no shuffle, no Python, identical table spelling
    in the DuckDB oracle."""
    d_sql = _nested_array_sql(VERHOEFF_D)
    p_sql = _nested_array_sql(VERHOEFF_P)
    ds = F.filter(F.split(F.reverse(number), ""), lambda c: c != "")
    pairs = F.zip_with(
        ds,
        F.sequence(F.lit(0), F.size(ds) - 1),
        lambda dg, i: F.struct(dg.cast("int").alias("dg"),
                               i.alias("i")),
    )
    c = F.aggregate(
        pairs,
        F.lit(0),
        lambda acc, s: F.expr(d_sql)[acc][
            F.expr(p_sql)[s["i"] % 8][s["dg"]]],
    )
    return F.when(
        number.rlike(r"^\d+$") & (c == 0), F.lit(1)).otherwise(F.lit(0))
