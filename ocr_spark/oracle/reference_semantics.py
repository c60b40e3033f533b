"""Pure-Python single-document oracle with reference-faithful semantics.

This module reimplements, per document, exactly WHAT the reference computes —
same regexes, same normalization, same scoring arithmetic, same decision
precedence. It (a) produces the golden fixtures, (b) is the per-document
computation of the extraction job itself: the job's one Arrow stage
(ocr_spark.operators.document) calls ``score_page`` on every document, and
(c) serves as the differential-test target for the native Catalyst
expression library (ocr_spark.functions.*).

Reference citations are inline. Deliberately replicated quirks (SURVEY.md
§7.4.2):
  * documents/aadhaar.py defines _extract_dob/_extract_gender/_extract_address
    TWICE; Python binds the LAST definition — we implement the second versions
    (aadhaar.py:420-465).
  * kv_score is constant 0.5 for aadhaar/pan/vehicle_rc (validation/
    key_value.py:32-48 has branches only for 'invoice'/'id_document', which
    the pipeline never passes — core/pipeline.py:351-352).
  * regex_score is aliased to schema_score (core/pipeline.py:362) and
    layout_score to ocr_confidence_score (core/pipeline.py:330).
  * hardcoded year cap 2024 in date validity (aadhaar.py:319, pan.py:335;
    RC uses 1950-2024, vehicle_rc.py:407).
  * excessive_non_alphanumeric binds 0.85 from config.yaml:297 (the 0.7 in
    decision.py:52 is only the missing-key default).
"""

from __future__ import annotations

import re

from ocr_spark import config as C
from ocr_spark.extraction.html_extract import PageExtract, extract_page
from ocr_spark.extraction.recognizer import decode_payload, recognize_batch
from ocr_spark.functions.fuzzy import WindowGate, _token_sort, anchor_gate

# ---------------------------------------------------------------------------
# Normalization (reference validation/normalization.py)
# ---------------------------------------------------------------------------

_DEV_TRANS = str.maketrans(C.DEVANAGARI_DIGITS, C.ARABIC_DIGITS)


def devanagari_to_arabic(text: str) -> str:
    return text.translate(_DEV_TRANS) if text else ""


def normalize_date(date_str: str) -> str | None:
    """normalization.py:50-72 — to DD/MM/YYYY."""
    if not date_str:
        return None
    clean = re.sub(r"[^\d/\-\.]", "", date_str)
    m = re.match(r"^(\d{1,2})[/\-\.](\d{1,2})[/\-\.](\d{4})$", clean)
    if m:
        d, mo, y = m.groups()
        return f"{int(d):02d}/{int(mo):02d}/{y}"
    m = re.match(r"^(\d{4})[/\-\.](\d{1,2})[/\-\.](\d{1,2})$", clean)
    if m:
        y, mo, d = m.groups()
        return f"{int(d):02d}/{int(mo):02d}/{y}"
    return None


# ---------------------------------------------------------------------------
# Classification (reference core/classification.py:63-115)
# ---------------------------------------------------------------------------

def classify_with_scores(text: str) -> tuple[str, dict[str, int]]:
    text_lower = text.lower()
    scores = {t: 0 for t in C.TYPE_KEYWORDS}
    for dtype, keywords in C.TYPE_KEYWORDS.items():
        for kw in keywords:
            if kw.lower() in text_lower:
                scores[dtype] += C.KEYWORD_MULTIWORD_WEIGHT if len(kw.split()) > 1 else C.KEYWORD_WEIGHT
    for dtype, patterns in C.TYPE_PATTERNS.items():
        for pat in patterns:
            if re.search(pat, text, re.IGNORECASE):
                scores[dtype] += C.PATTERN_WEIGHT
    max_score = max(scores.values())
    if max_score == 0:
        return C.CLASSIFY_DEFAULT, scores
    best = max(scores, key=scores.get)
    if list(scores.values()).count(max_score) > 1:
        for dtype in C.CLASSIFY_PRIORITY:
            if scores[dtype] == max_score:
                best = dtype
                break
    return best, scores


# ---------------------------------------------------------------------------
# Date validity (aadhaar.py:292-324 / pan.py:308-340 / vehicle_rc.py:382-412)
# ---------------------------------------------------------------------------

def _is_valid_date(date_str: str, min_year: int = C.DATE_MIN_YEAR) -> bool:
    if not re.match(r"\d{1,2}[/-]\d{1,2}[/-]\d{2,4}", date_str):
        return False
    parts = re.split(r"[/-]", date_str)
    if len(parts) != 3:
        return False
    try:
        day, month, year = int(parts[0]), int(parts[1]), int(parts[2])
    except ValueError:
        return False
    if not 1 <= day <= 31 or not 1 <= month <= 12:
        return False
    if year < 100:
        year += 1900 if year > 50 else 2000
    return min_year <= year <= C.DATE_MAX_YEAR


# ---------------------------------------------------------------------------
# Aadhaar extractor (reference documents/aadhaar.py)
# ---------------------------------------------------------------------------

def _validate_aadhaar(number: str) -> bool:
    """aadhaar.py:150-172 (Verhoeff noted but NOT implemented — replicated)."""
    number = devanagari_to_arabic(number)
    if not number.isdigit() or len(number) != 12:
        return False
    return number[0] not in ("0", "1")


def _aadhaar_number(text: str, words: list[str]) -> str | None:
    """aadhaar.py:84-148, four strategies in order."""
    for m in re.findall(r"\b(\d{4})[\s.-]+(\d{4})[\s.-]+(\d{4})\b", text):
        cand = "".join(m)
        if _validate_aadhaar(cand):
            return cand
    for m in re.findall(r"\b(\d{12})\b", text):
        if _validate_aadhaar(m):
            return m
    digit_words = []
    for w in words:  # aadhaar.py:125-148, word-sequence strategy
        cleaned = re.sub(r"[^\d]", "", w)
        if len(cleaned) == 4:
            digit_words.append(cleaned)
    for i in range(len(digit_words) - 2):
        cand = digit_words[i] + digit_words[i + 1] + digit_words[i + 2]
        if _validate_aadhaar(cand):
            return cand
    m = re.search(r"(?:aadhaar|आधार).*?(\d{4}[\s.-]*\d{4}[\s.-]*\d{4})", text, re.IGNORECASE | re.DOTALL)
    if m:
        cand = re.sub(r"[\s.-]+", "", m.group(1))
        if _validate_aadhaar(cand):
            return cand
    return None


def _is_valid_name(name: str, stoplist: list[str], max_len: int | None = None) -> bool:
    """aadhaar.py:236-266 / pan.py:248-282 / vehicle_rc.py:253-283."""
    low = name.lower()
    for kw in stoplist:
        if kw in low:
            return False
    ws = name.split()
    if len(ws) < 2:
        return False
    for w in ws:
        if not w.isalpha() or len(w) < 2:
            return False
    if max_len is not None and len(name) > max_len:
        return False
    return True


def _aadhaar_name(text: str, lines: list[str]) -> str | None:
    """aadhaar.py:193-234."""
    for pattern in (
        r"(?:name|नाम)\s*:?\s*([A-Za-z\s]{3,50})",
        r"([A-Z][a-z]+(?:[\s@:.,]*[A-Z][a-z]+)+)",
    ):
        m = re.search(pattern, text)
        if m:
            name = re.sub(r"[@:.,]", " ", m.group(1).strip())
            name = re.sub(r"([a-z])([A-Z])", r"\1 \2", name)
            name = re.sub(r"\s+", " ", name).strip()
            if _is_valid_name(name, C.NAME_STOPLIST_AADHAAR):
                return name
    if lines and len(lines) > 2:
        for line in lines[1:4]:
            tl = line.strip()
            if re.match(r"^[A-Z][a-z]+.*[A-Z][a-z]+", tl):
                cand = re.sub(r"([a-z])([A-Z])", r"\1 \2", tl)
                if _is_valid_name(cand, C.NAME_STOPLIST_AADHAAR):
                    return cand
    return None


def _aadhaar_dob(text: str) -> str | None:
    """SECOND definition, aadhaar.py:438-454 (last-wins trap)."""
    text = devanagari_to_arabic(text)
    m = re.search(
        r"(?:dob|date\s+of\s+birth|yob|year\s+of\s+birth)\s*[:.-]?\s*(\d{2}/\d{2}/\d{4}|\d{4})",
        text,
        re.IGNORECASE,
    )
    if m:
        val = m.group(1)
        if len(val) == 4:
            return f"01/01/{val}"
        return normalize_date(val)
    return None


def _aadhaar_gender(text: str) -> str | None:
    """SECOND definition, aadhaar.py:420-436."""
    if re.search(r"\bMALE\b", text, re.IGNORECASE):
        return "Male"
    if re.search(r"\bFEMALE\b", text, re.IGNORECASE):
        return "Female"
    if re.search(r"\bTRANSGENDER\b", text, re.IGNORECASE):
        return "Other"
    if re.search(r"पुरुष", text):
        return "Male"
    if re.search(r"महिला", text):
        return "Female"
    return None


def _aadhaar_address(text: str) -> str | None:
    """SECOND definition, aadhaar.py:456-465."""
    m = re.search(r"(?:address|pata)\s*[:.-]\s*(.+?)(?:\d{6}|$)", text, re.IGNORECASE | re.DOTALL)
    if m:
        return re.sub(r"\s+", " ", m.group(1)).strip()
    return None


def extract_aadhaar(text: str) -> dict[str, object]:
    """aadhaar.py:22-81 field assembly order."""
    words = text.split()
    lines = text.split("\n")
    fields: dict[str, object] = {}
    num = _aadhaar_number(text, words)
    if num:
        fields["aadhaar_number"] = num
    m = re.search(r"(?:vid|virtual\s+id).*?(\d{4}\s*\d{4}\s*\d{4}\s*\d{4})", text, re.IGNORECASE | re.DOTALL)
    if m:
        vid = re.sub(r"\s+", "", m.group(1))
        if vid.isdigit() and len(vid) == 16:
            fields["vid"] = vid
    name = _aadhaar_name(text, lines)
    if name:
        fields["name"] = name
    dob = _aadhaar_dob(text)
    if dob:
        fields["date_of_birth"] = dob
    gender = _aadhaar_gender(text)
    if gender:
        fields["gender"] = gender
    t_arab = devanagari_to_arabic(text)
    for pin in re.findall(r"\b(\d{6})\b", t_arab):  # aadhaar.py:383-395
        if pin[0] != "0":
            fields["pin_code"] = pin
            break
    m = re.search(r"\b(\d{4}/\d{5}/\d{5})\b", t_arab)  # aadhaar.py:397-403
    if m:
        fields["enrollment_id"] = m.group(1)
    addr = _aadhaar_address(text)
    if addr:
        fields["address"] = addr
    for d in re.findall(r"\b(\d{2}/\d{2}/\d{4})\b", t_arab):  # aadhaar.py:405-418
        norm = normalize_date(d)
        if norm:
            fields["issue_date"] = norm
            break
    return fields


# ---------------------------------------------------------------------------
# PAN extractor (reference documents/pan.py)
# ---------------------------------------------------------------------------

def _validate_pan(pan: str) -> bool:
    """pan.py:159-182."""
    if len(pan) != 10 or not re.match(r"^[A-Z]{5}[0-9]{4}[A-Z]{1}$", pan):
        return False
    return pan[3] in C.PAN_VALID_FOURTH


def _fuzzy_correct_pan(text: str) -> str | None:
    """pan.py:117-157 positional OCR substitution."""
    if len(text) != 10:
        return None
    chars = list(text)
    for i in range(5):
        if not chars[i].isalpha():
            if chars[i] in C.PAN_TO_ALPHA:
                chars[i] = C.PAN_TO_ALPHA[chars[i]]
            else:
                return None
    for i in range(5, 9):
        if not chars[i].isdigit():
            if chars[i] in C.PAN_TO_DIGIT:
                chars[i] = C.PAN_TO_DIGIT[chars[i]]
            else:
                return None
    if not chars[9].isalpha() and chars[9] in C.PAN_TO_ALPHA:
        chars[9] = C.PAN_TO_ALPHA[chars[9]]
    return "".join(chars)


def _pan_number(text: str, words: list[str]) -> str | None:
    """pan.py:61-115 — strict (with ambiguity reject), fuzzy tokens, loose."""
    up = text.upper()
    unique = set()
    for m in re.findall(r"\b([A-Z]{5}[0-9]{4}[A-Z]{1})\b", up):
        if _validate_pan(m):
            unique.add(m)
    if len(unique) > 1:
        return None  # ambiguity hard-reject, pan.py:77-78
    if len(unique) == 1:
        return next(iter(unique))
    candidates = [t for t in re.split(r"[\s.,:;-]+", up) if len(t) == 10]
    for i in range(len(words) - 1):
        combined = re.sub(r"[^A-Z0-9]", "", (words[i] + words[i + 1]).upper())
        if len(combined) == 10:
            candidates.append(combined)
    for cand in candidates:
        fixed = _fuzzy_correct_pan(cand)
        if fixed and _validate_pan(fixed):
            return fixed
    for groups in re.findall(r"([A-Z]{5})([0-9IOZS]{4})([A-Z0-9])", up):
        fixed = _fuzzy_correct_pan("".join(groups))
        if fixed and _validate_pan(fixed):
            return fixed
    return None


def _pan_name(text: str, lines: list[str]) -> str | None:
    """pan.py:184-220."""
    for pattern in (
        r"(?:name|नाम)\s*:?\s*([A-Z][A-Z\s]{3,50})",
        r"([A-Z][A-Z\s]+(?:[A-Z][A-Z\s]+)+)",
    ):
        m = re.search(pattern, text)
        if m:
            name = re.sub(r"\s+", " ", m.group(1).strip()).strip()
            if _is_valid_name(name, C.NAME_STOPLIST_PAN, max_len=50):
                return name
    if lines and len(lines) > 2:
        for line in lines:
            tl = line.strip()
            if re.match(r"^[A-Z][A-Z\s]{5,}$", tl) and _is_valid_name(tl, C.NAME_STOPLIST_PAN, max_len=50):
                return tl
    return None


def _pan_dob(text: str) -> str | None:
    """pan.py:284-306."""
    for pattern in (
        r"(?:dob|date\s+of\s+birth|जन्म\s+तिथि)\s*:?\s*(\d{1,2}[/.-]\d{1,2}[/.-]\d{2,4})",
        r"(\d{1,2}[/.-]\d{1,2}[/.-]\d{4})",
    ):
        m = re.search(pattern, text, re.IGNORECASE)
        if m and _is_valid_date(m.group(1)):
            return m.group(1)
    return None


def extract_pan(text: str) -> dict[str, object]:
    """pan.py:21-58."""
    words = text.split()
    lines = text.split("\n")
    fields: dict[str, object] = {}
    pan = _pan_number(text, words)
    if pan:
        fields["pan_number"] = pan
        fields["id_number"] = pan
    name = _pan_name(text, lines)
    if name:
        fields["name"] = name
    m = re.search(r"(?:father'?s?\s+name|पिता का नाम)\s*:?\s*([A-Z][A-Z\s]{3,50})", text, re.IGNORECASE)
    if m:
        fname = re.sub(r"\s+", " ", m.group(1).strip()).strip()
        if _is_valid_name(fname, C.NAME_STOPLIST_PAN, max_len=50):
            fields["father_name"] = fname
    dob = _pan_dob(text)
    if dob:
        fields["date_of_birth"] = dob
    if re.search(r"(?:signature|sign|hastakshar|हस्ताक्षर)", text, re.IGNORECASE):
        fields["signature_present"] = True
    return fields


# ---------------------------------------------------------------------------
# Vehicle RC extractor (reference documents/vehicle_rc.py)
# ---------------------------------------------------------------------------

def _validate_reg(reg_num: str) -> bool:
    """vehicle_rc.py:195-224."""
    reg_num = re.sub(r"[\s-]+", "", reg_num)
    if not re.match(r"^[A-Z]{2}\d{2}[A-Z]{1,2}\d{4}$", reg_num):
        return False
    if reg_num[:2] not in C.RC_STATE_CODES:
        return False
    rto = int(reg_num[2:4])
    return 1 <= rto <= 99


def _format_continuous(match: str) -> str:
    state, rto = match[:2], match[2:4]
    k = 4
    while k < len(match) and match[k].isalpha():
        k += 1
    return f"{state}-{rto}-{match[4:k]}-{match[k:]}"


def _rc_registration(text: str) -> str | None:
    """vehicle_rc.py:126-164 — candidate set, ambiguity -> None."""
    up = text.upper()
    candidates = set()
    for m in re.findall(r"\b([A-Z]{2})\s*[-]?\s*(\d{2})\s*[-]?\s*([A-Z]{1,2})\s*[-]?\s*(\d{4})\b", up):
        if _validate_reg("".join(m)):
            candidates.add("-".join(m))
    for m in re.findall(r"\b([A-Z]{2}\d{2}[A-Z]{1,2}\d{4})\b", up):
        if _validate_reg(m):
            candidates.add(_format_continuous(m))
    if len(candidates) == 1:
        return next(iter(candidates))
    return None


def extract_vehicle_rc(text: str) -> dict[str, object]:
    """vehicle_rc.py:29-124."""
    fields: dict[str, object] = {}
    reg = _rc_registration(text)
    if reg:
        fields["registration_number"] = reg
    for pattern in (
        r"(?:owner|owner'?s?\s+name|registered\s+owner)\s*:?\s*([A-Z][A-Za-z\s]{3,50})",
        r"(?:name|नाम)\s*:?\s*([A-Z][A-Za-z\s]{3,50})",
    ):
        m = re.search(pattern, text, re.IGNORECASE)
        if m:
            name = re.sub(r"\s+", " ", m.group(1).strip()).strip()
            if _is_valid_name(name, C.NAME_STOPLIST_RC):
                fields["owner_name"] = name
                fields["name"] = name
                break
    for pattern in (
        r"(?:make|maker|manufacturer)\s*:?\s*([A-Za-z0-9\s]{3,30})",
        r"(?:model)\s*:?\s*([A-Za-z0-9\s]{3,30})",
    ):
        m = re.search(pattern, text, re.IGNORECASE)
        if m:
            mm = re.sub(r"\s+", " ", m.group(1).strip())
            if len(mm) >= 3:
                fields["vehicle_make_model"] = mm
                break
    m = re.search(r"(?:engine\s+(?:no|number)|e\s*no)\s*:?\s*([A-Z0-9]{6,20})", text, re.IGNORECASE)
    if m and re.match(r"^[A-Z0-9]{6,20}$", m.group(1).upper()):
        fields["engine_number"] = m.group(1).strip().upper()
    m = re.search(r"(?:chassis\s+(?:no|number)|c\s*no|vin)\s*:?\s*([A-Z0-9]{10,20})", text, re.IGNORECASE)
    if m and re.match(r"^[A-Z0-9]{10,20}$", m.group(1).upper()):
        fields["chassis_number"] = m.group(1).strip().upper()
    for pattern in (
        r"(?:registration\s+date|reg\s*date|date\s+of\s+registration)\s*:?\s*(\d{1,2}[/.-]\d{1,2}[/.-]\d{2,4})",
        r"(\d{1,2}[/.-]\d{1,2}[/.-]\d{4})",
    ):
        m = re.search(pattern, text, re.IGNORECASE)
        if m and _is_valid_date(m.group(1), min_year=C.DATE_MIN_YEAR_RC):
            fields["registration_date"] = m.group(1)
            break
    m = re.search(r"(?:vehicle\s+class|class)\s*:?\s*([A-Z-]{2,10})", text, re.IGNORECASE)
    vc = None
    if m and m.group(1).upper() in C.VEHICLE_CLASSES:
        vc = m.group(1).upper()
    else:
        for cand in C.VEHICLE_CLASSES:
            if re.search(r"\b" + cand + r"\b", text.upper()):
                vc = cand
                break
    if vc:
        fields["vehicle_class"] = vc
    m = re.search(r"(?:fuel|propulsion)\s*:?\s*([A-Za-z]+)", text, re.IGNORECASE)
    fuel = None
    if m and any(f in m.group(1).upper() for f in C.FUEL_TYPES):
        fuel = m.group(1).upper()
    else:
        for f in C.FUEL_TYPES:
            if re.search(r"\b" + f + r"\b", text.upper()):
                fuel = f
                break
    if fuel:
        fields["fuel_type"] = fuel
    m = re.search(r"(?:seating|cap|seat)\s*(?:cap)?\s*[:.]?\s*(\d{1,2})", text, re.IGNORECASE)
    if m:
        fields["seating_capacity"] = m.group(1)
    for key, kws, vp in (
        ("wheelbase", ["wheel", "base", "wb"], r"(\d{4})"),
        ("unladen_weight", ["unladen", "ulw", "wt"], r"(\d{3,5})"),
        ("vehicle_color", ["colour", "color"], r"([A-Z]{3,10})"),
    ):
        m = re.search(r"(?:" + "|".join(kws) + r")\s*[:.-]?\s*" + vp, text, re.IGNORECASE)
        if m:
            fields[key] = m.group(1)
    m = re.search(
        r"(?:hypothecation|hypothecated|financed|hpa|hp)\s*(?:by|to|with)?\s*[:.-]?\s*([A-Z0-9\s.,&]+)",
        text,
        re.IGNORECASE,
    )
    if m and len(m.group(1).strip()) > 3:
        fields["hypothecation"] = m.group(1).strip()
    m = re.search(r"(?:fitness|fit)\s*(?:valid|upto)?\s*[:.-]?\s*(\d{2}[/.-]\d{2}[/.-]\d{4})", text, re.IGNORECASE)
    if m:
        norm = normalize_date(m.group(1))
        if norm:
            fields["fitness_validity_date"] = norm
    m = re.search(r"(?:insurance|ins)\s*(?:valid|upto)?\s*[:.-]?\s*(\d{2}[/.-]\d{2}[/.-]\d{4})", text, re.IGNORECASE)
    if m:
        norm = normalize_date(m.group(1))
        if norm:
            fields["insurance_validity_date"] = norm
    m = re.search(r"(?:mfg|manufacturing)\s*(?:date)?\s*[:.-]?\s*(\d{2}[/.-]\d{4}|\d{4})", text, re.IGNORECASE)
    if m:
        fields["manufacturing_date"] = m.group(1)
    return fields


_EXTRACTORS = {"aadhaar": extract_aadhaar, "pan": extract_pan, "vehicle_rc": extract_vehicle_rc}


def extract_fields(doc_type: str, text: str) -> dict[str, object]:
    return _EXTRACTORS.get(doc_type, extract_aadhaar)(text)


# ---------------------------------------------------------------------------
# Word-level stats + OCR confidence (reference ocr/engine.py:144-244)
# ---------------------------------------------------------------------------

def word_stats(dom_words: list[str], ocr_words: list[tuple[str, float]]) -> dict:
    """DOM-parsed words carry confidence 100.0 (exact parse); recognizer words
    carry their softmax confidence * 100 (engine.py conf scale)."""
    entries = [(w, 100.0) for w in dom_words] + list(ocr_words)
    total = len(entries)
    if not total:
        return {
            "total_words": 0, "low_confidence_words": 0, "numeric_words": 0,
            "mean_confidence": 0.0, "ocr_confidence_score": 0.0,
        }
    wsum = 0.0
    wtot = 0.0
    low = 0
    numeric = 0
    for w, conf in entries:
        cleaned = re.sub(r"[,.\s$€£¥]", "", w)
        is_num = bool(cleaned) and sum(c.isdigit() for c in cleaned) / len(cleaned) > 0.5
        is_stop = w.lower() in C.STOPWORDS
        weight = C.STOPWORD_WEIGHT if is_stop else (C.NUMERIC_TOKEN_WEIGHT if is_num else C.ALPHA_TOKEN_WEIGHT)
        wsum += conf * weight
        wtot += weight
        if conf < C.MIN_WORD_CONFIDENCE:
            low += 1
        if is_num:
            numeric += 1
    mean_conf = wsum / wtot if wtot else 0.0
    # calculate_ocr_confidence_score, engine.py:163-193
    if total < C.MIN_WORDS_DETECTED or (low / total) > C.LOW_CONF_RATIO_CUTOFF:
        score = 0.0
    else:
        bonus = min(C.NUMERIC_BONUS_CAP, (numeric / total) * C.NUMERIC_BONUS_SCALE)
        score = min(1.0, mean_conf / 100.0 + bonus)
    return {
        "total_words": total, "low_confidence_words": low, "numeric_words": numeric,
        "mean_confidence": mean_conf, "ocr_confidence_score": score,
    }


# ---------------------------------------------------------------------------
# Validation scores (anchors.py, distribution.py, key_value.py)
# ---------------------------------------------------------------------------

# (raw, token-sorted) anchor pairs per doc type: config constants, sorted
# once per process instead of once per (document, anchor).
_SORTED_ANCHORS = {
    dt: {k: [(a, _token_sort(a.lower())) for a in cfg[k]] for k in ("required", "optional")}
    for dt, cfg in C.ANCHORS.items()
}


def anchor_score(text: str, doc_type: str) -> float:
    """anchors.py:18-94: substring first, then the fuzzy token-sort gate
    over one WindowGate per document."""
    cfg = C.ANCHORS.get(doc_type)
    if cfg is None:
        return 0.0
    text_lower = text.lower()
    gate = WindowGate(_token_sort(text_lower))
    sa = _SORTED_ANCHORS[doc_type]
    found_req = sum(
        1 for a, ts_a in sa["required"]
        if a in text_lower or anchor_gate(ts_a, gate, cfg["threshold"])
    )
    found_opt = sum(
        1 for a, ts_a in sa["optional"]
        if a in text_lower or anchor_gate(ts_a, gate, cfg["threshold"])
    )
    req_ratio = found_req / len(cfg["required"]) if cfg["required"] else 1.0
    return min(1.0, req_ratio + min(C.ANCHOR_OPTIONAL_BONUS_CAP, found_opt * C.ANCHOR_OPTIONAL_BONUS))


def distribution_score(text: str, doc_type: str) -> float:
    """distribution.py:17-68."""
    if not text:
        return 0.0
    prof = C.DISTRIBUTION_PROFILES.get(doc_type)
    if prof is None:
        return 1.0
    total = len(text)
    numeric = sum(c.isdigit() for c in text)
    alnum_space = sum(c.isalnum() or c.isspace() for c in text)
    special = total - alnum_space
    nr, sr = numeric / total, special / total
    score = 1.0
    if nr < prof["min_numeric_ratio"]:
        score -= ((prof["min_numeric_ratio"] - nr) / prof["min_numeric_ratio"]) * C.DIST_NUMERIC_PENALTY
    if sr > prof["max_special_char_ratio"]:
        score -= ((sr - prof["max_special_char_ratio"]) / (1.0 - prof["max_special_char_ratio"])) * C.DIST_SPECIAL_PENALTY
    return max(0.0, score)


def schema_score(fields: dict, doc_type: str) -> float:
    """core/pipeline.py:564-589."""
    if doc_type not in C.FIELD_WEIGHTS:
        req = C.REQUIRED_FIELDS.get(doc_type, C.REQUIRED_FIELDS_DEFAULT)
        if not req:
            return 1.0
        return sum(1 for f in req if f in fields) / len(req)
    weights = C.FIELD_WEIGHTS[doc_type]
    total = sum(weights.values())
    got = sum(w for f, w in weights.items() if f in fields)
    return got / total if total > 0 else 0.0


def non_alnum_ratio(text: str) -> float:
    """core/pipeline.py:609-624."""
    if not text:
        return 0.0
    return 1.0 - sum(c.isalnum() or c.isspace() for c in text) / len(text)


# ---------------------------------------------------------------------------
# Quality analogs over page stats (image_quality.py normalizer shapes)
# ---------------------------------------------------------------------------

def quality_from_raw(blur, brightness, resolution, contrast, edge_density, glare) -> dict:
    nb = min(1.0, blur / C.QUALITY_BLUR_CAP)
    if brightness < C.QUALITY_MIN_BALANCE or brightness > C.QUALITY_MAX_BALANCE:
        nbr = 0.0
    else:
        nbr = 1.0 - abs(brightness - C.QUALITY_BRIGHTNESS_PEAK) / C.QUALITY_BRIGHTNESS_PEAK * 0.5
    if resolution < C.PAGE_RES_MIN_BYTES:
        nres = resolution / C.PAGE_RES_MIN_BYTES
    elif resolution < C.PAGE_RES_GOOD_BYTES:
        nres = 0.5 + 0.5 * (resolution - C.PAGE_RES_MIN_BYTES) / (C.PAGE_RES_GOOD_BYTES - C.PAGE_RES_MIN_BYTES)
    else:
        nres = 1.0
    if contrast < C.QUALITY_CONTRAST_LOW:
        nc = 0.0
    elif contrast < C.QUALITY_CONTRAST_KNEE:
        nc = contrast / C.QUALITY_CONTRAST_KNEE
    else:
        nc = 1.0
    if glare > C.QUALITY_MAX_GLARE_RATIO:
        ng = max(0.0, 1.0 - glare / C.QUALITY_MAX_GLARE_RATIO)
    else:
        ng = 1.0 - glare / C.QUALITY_MAX_GLARE_RATIO * 0.5
    composite = (
        C.QUALITY_WEIGHTS["blur"] * nb
        + C.QUALITY_WEIGHTS["brightness"] * nbr
        + C.QUALITY_WEIGHTS["resolution"] * nres
        + C.QUALITY_WEIGHTS["contrast"] * nc
        + C.QUALITY_WEIGHTS["glare"] * ng
    )
    reasons = []
    if blur < C.QUALITY_MIN_CONTENT_SCORE:
        reasons.append("low_content_score")
    if brightness < C.QUALITY_MIN_BALANCE or brightness > C.QUALITY_MAX_BALANCE:
        reasons.append("balance_out_of_range")
    if contrast < C.QUALITY_MIN_CONTRAST:
        reasons.append("low_contrast")
    if edge_density < C.QUALITY_MIN_EDGE_DENSITY:
        reasons.append("low_edge_density")
    if glare > C.QUALITY_MAX_GLARE_RATIO:
        reasons.append("high_boilerplate_ratio")
    return {"composite_score": composite, "passed": not reasons, "failure_reasons": reasons}


# ---------------------------------------------------------------------------
# Final confidence + decision (confidence.py:87-155, decision.py:56-208)
# ---------------------------------------------------------------------------

def final_confidence(parts: dict[str, float]) -> float:
    w = C.SCORE_WEIGHTS
    num = (
        w["image_quality"] * parts["image_quality"]
        + w["ocr_confidence"] * parts["ocr_confidence"]
        + w["regex_match"] * parts["regex"]
        + w["fuzzy_match"] * parts["fuzzy"]
        + w["layout_validity"] * parts["layout"]
        + w["kv_match"] * parts["kv"]
        + w["consistency"] * parts["consistency"]
        + w["schema_completeness"] * parts["schema"]
        + w["distribution"] * parts["distribution"]
        + w["spatial_compactness"] * parts["spatial"]
    )
    total = sum(w.values())
    return max(0.0, min(1.0, num / total if total > 0 else num))


def distinct_core_ids(text: str, doc_type: str) -> int:
    """Conflicting-schema signal (spatial_validator.py:150-187 text analog):
    distinct normalized core ids of the classified type. Mirrors
    scoring.distinct_core_ids expression-for-expression."""
    pat = C.CORE_ID_PATTERNS.get(doc_type)
    if not pat:
        return 0
    ids = {
        re.sub(r"[-\s]", "", m)
        for m in re.findall(pat, text)
        if not m.startswith("VID")
    }
    return len(ids)


def make_decision(
    final_score: float,
    quality_passed: bool,
    text_detected: bool,
    mandatory_present: bool,
    non_alnum: float,
    multi_document: bool = False,
    conflicting_schemas: bool = False,
    business_failures: list[str] | None = None,
) -> tuple[str, bool]:
    """Ordered hard-reject precedence, decision.py:84-201. Returns
    (decision, hard_rejection)."""
    if not text_detected:
        return "reject", True
    if not quality_passed:
        return "reject", True
    if not mandatory_present:
        return "reject", True
    if non_alnum > C.MAX_NON_ALPHANUMERIC:
        return "reject", True
    if conflicting_schemas:
        return "reject", True
    if multi_document:
        return "review", False
    if final_score >= C.ACCEPT_THRESHOLD:
        return ("review" if business_failures else "accept"), False
    if final_score >= C.REVIEW_THRESHOLD:
        return "review", False
    return "reject", False


# ---------------------------------------------------------------------------
# End-to-end per-document oracle (mirrors core/pipeline.py:119-458 with the
# graft stage mapping: DOM pass = standard OCR pass, DOM+recognized payload =
# enhanced pass; dual-pass merge per PRIORITY_FIELDS, pipeline.py:295-316)
# ---------------------------------------------------------------------------

def score_page(page: PageExtract, ocr_text: str, ocr_conf: float) -> dict:
    """Everything after recognition for one document: classify, dual-pass
    extract + merge, word stats, quality gate, 10-component score, decision.

    ocr_text/ocr_conf are the recognizer's output for the page's payload (""
    and 0.0 without one). Returns the pipeline's output columns but the
    url/warc_ts/lang pass-throughs, valued as the table stores them, plus
    the detail dicts fields, quality, word_stats and score_parts."""
    dom_text = page.text
    full_text = dom_text + ("\n" + ocr_text if ocr_text else "") if dom_text else ocr_text

    doc_type, _ = classify_with_scores(full_text)

    fields_std = extract_fields(doc_type, dom_text)
    fields = dict(fields_std)
    if ocr_text:  # enhanced pass exists -> priority merge (pipeline.py:295-316)
        fields_enh = extract_fields(doc_type, full_text)
        if doc_type == "aadhaar" and "aadhaar_number" in fields_enh and "aadhaar_number" not in fields:
            fields["aadhaar_number"] = fields_enh["aadhaar_number"]
            fields["id_number"] = fields_enh["aadhaar_number"]
        for key in C.PRIORITY_FIELDS.get(doc_type, []):
            if key not in fields and key in fields_enh:
                fields[key] = fields_enh[key]

    stats = word_stats(dom_text.split(), [(w, ocr_conf * 100.0) for w in ocr_text.split()])

    quality = quality_from_raw(
        page.blur_raw, page.brightness_raw, page.resolution_raw,
        page.contrast_raw, page.edge_density_raw, page.glare_raw,
    )

    required = C.REQUIRED_FIELDS.get(doc_type, C.REQUIRED_FIELDS_DEFAULT)
    # critical-field check, pipeline.py:390-403
    missing = [f for f, w in C.FIELD_WEIGHTS.get(doc_type, {}).items()
               if w >= C.CRITICAL_FIELD_WEIGHT and f not in fields]
    mandatory_present = not missing and all(f in fields for f in required)

    sschema = schema_score(fields, doc_type)
    parts = {
        "image_quality": quality["composite_score"],
        "ocr_confidence": stats["ocr_confidence_score"],
        "regex": sschema,                         # pipeline.py:362 alias
        "fuzzy": anchor_score(full_text, doc_type),
        "layout": stats["ocr_confidence_score"],  # pipeline.py:330 alias
        "kv": 0.5,                                # constant, key_value.py:32
        "consistency": 1.0 if mandatory_present else 0.5,
        "schema": sschema,
        "distribution": distribution_score(full_text, doc_type),
        "spatial": 1.0,                           # no-boxes default, pipeline.py:365
    }
    final = final_confidence(parts)
    nar = non_alnum_ratio(full_text)
    multi_document = page.n_doc_regions > 1
    conflicting = distinct_core_ids(full_text, doc_type) > 1
    decision, hard = make_decision(
        final, quality["passed"], stats["total_words"] > 0, mandatory_present,
        nar, multi_document=multi_document, conflicting_schemas=conflicting,
        business_failures=missing,
    )

    return {
        "extracted_text": full_text,
        "doc_type": doc_type,
        "extracted_fields": {k: "true" if v is True else str(v) for k, v in fields.items()},
        "decision": decision,
        "hard_rejection": hard,
        "final_score": final,
        "quality_score": quality["composite_score"],
        "quality_passed": quality["passed"],
        "quality_reasons": quality["failure_reasons"],
        **stats,
        "fuzzy_score": parts["fuzzy"],
        "schema_score": sschema,
        "distribution_score": parts["distribution"],
        "non_alnum_ratio": nar,
        "business_failures": missing,
        "multi_document": multi_document,
        "conflicting_schemas": conflicting,
        "fields": fields,
        "quality": quality,
        "word_stats": stats,
        "score_parts": parts,
    }


def process_page(html_bytes: bytes, payload_blob: bytes | None = None) -> dict:
    """One document end to end: extract_page -> recognize -> score_page."""
    ocr_text, ocr_conf = "", 0.0
    if payload_blob is not None:
        ocr_text, ocr_conf, _ = recognize_batch([decode_payload(payload_blob)])[0]
    return score_page(extract_page(html_bytes), ocr_text, ocr_conf)
