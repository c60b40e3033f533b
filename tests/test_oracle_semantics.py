"""Oracle unit tests — the reference-faithful semantics, including the cases
the reference's own test suite botched (SURVEY.md §5.1: wrong method names /
arg order in test_validation.py) and the deliberately replicated quirks."""

from __future__ import annotations

from ocr_spark.oracle import reference_semantics as R


# -- normalization (D1-D5) ---------------------------------------------------

def test_devanagari_digits():
    assert R.devanagari_to_arabic("पिन ४००००१") == "पिन 400001"


def test_normalize_date_dmy_ymd():
    assert R.normalize_date("1/2/1990") == "01/02/1990"
    assert R.normalize_date("1990-02-01") == "01/02/1990"
    assert R.normalize_date("01.02.1990") == "01/02/1990"
    assert R.normalize_date("31/31/1990") == "31/31/1990"  # no range check here (ref behavior)
    assert R.normalize_date("nonsense") is None


def test_is_valid_date_ranges():
    assert R._is_valid_date("01/01/2000")
    assert not R._is_valid_date("01/01/2025")  # hardcoded 2024 cap replicated
    assert not R._is_valid_date("01/13/2000")
    assert not R._is_valid_date("32/01/2000")
    assert R._is_valid_date("01/01/60")  # 2-digit year -> 1960
    assert not R._is_valid_date("01/01/1940", min_year=1950)  # RC floor


# -- classification (A4) -----------------------------------------------------

def test_classify_priority_and_default():
    t, _ = R.classify_with_scores("plain text with no signals at all")
    assert t == "aadhaar"  # all-zero default
    t, s = R.classify_with_scores("income tax department permanent account number")
    assert t == "pan"
    t, _ = R.classify_with_scores("registration certificate engine no chassis no")
    assert t == "vehicle_rc"


def test_classify_multiword_weight():
    _, s = R.classify_with_scores("government of india")
    # multiword keyword counts 2, and it is in both aadhaar and pan lists
    assert s["aadhaar"] == 2 and s["pan"] == 2


# -- aadhaar extraction (X1-X10) ----------------------------------------------

def test_aadhaar_number_strategies():
    assert R._aadhaar_number("id 2345 6789 0123 end", []) == "234567890123"
    assert R._aadhaar_number("id 234567890123 end", []) == "234567890123"
    assert R._aadhaar_number("", ["2345-", "6789", "0123"]) == "234567890123"
    assert R._aadhaar_number("aadhaar no. 2345-6789-0123", []) == "234567890123"
    # first digit 0/1 invalid
    assert R._aadhaar_number("id 1345 6789 0123 end", []) is None


def test_aadhaar_dob_last_definition_wins():
    # Second definition wins (aadhaar.py:438-454): the first definition's
    # 8-digit DDMMYYYY splice is GONE; instead the \d{4} alternative grabs
    # the first four digits as a "year" -> 01/01/0102. Quirky but faithful.
    assert R._aadhaar_dob("DOB : 01021990") == "01/01/0102"
    assert R._aadhaar_dob("DOB : 01/02/1990") == "01/02/1990"
    assert R._aadhaar_dob("YOB : 1976") == "01/01/1976"


def test_aadhaar_gender_second_definition():
    assert R._aadhaar_gender("TRANSGENDER person") == "Other"
    assert R._aadhaar_gender("gender female") == "Female"
    assert R._aadhaar_gender("FEMALE") == "Female"
    assert R._aadhaar_gender("पुरुष") == "Male"


def test_aadhaar_pin_skips_leading_zero():
    f = R.extract_aadhaar("address : somewhere 012345 and 560037 city")
    assert f.get("pin_code") == "560037"


# -- PAN (X11-X15) -------------------------------------------------------------

def test_pan_strict_and_ambiguity():
    assert R._pan_number("pan ABCPE1234F ok", []) == "ABCPE1234F"
    # two distinct valid PANs -> ambiguity None (pan.py:77-78)
    assert R._pan_number("ABCPE1234F and XYZPA9876B", []) is None
    # same PAN twice is fine
    assert R._pan_number("ABCPE1234F and ABCPE1234F", []) == "ABCPE1234F"


def test_pan_fuzzy_correction():
    # digits corrupted to lookalike letters in the numeric zone
    assert R._pan_number("number ABCPEIZ3AF end", []) == "ABCPE1234F"
    # fourth char not in valid set -> rejected
    assert R._pan_number("number ABCDE1234F end", []) is None


def test_pan_adjacent_word_combine():
    assert R._pan_number("split ABCPE 1234F here", ["split", "ABCPE", "1234F", "here"]) == "ABCPE1234F"


# -- vehicle RC (X16-X18) -------------------------------------------------------

def test_rc_registration_formats_and_ambiguity():
    assert R._rc_registration("reg MH-12-AB-1234") == "MH-12-AB-1234"
    assert R._rc_registration("reg MH12AB1234") == "MH-12-AB-1234"
    assert R._rc_registration("reg MH 12 AB 1234") == "MH-12-AB-1234"
    # two distinct -> None
    assert R._rc_registration("MH-12-AB-1234 DL-01-CD-5678") is None
    # invalid state code
    assert R._rc_registration("XX-12-AB-1234") is None
    # RTO 00 invalid
    assert R._rc_registration("MH-00-AB-1234") is None


def test_rc_fields():
    text = ("REGISTRATION CERTIFICATE\nRegistration Number KA-05-XY-9999\n"
            "Owner Name : Anil Raj Gupta.\nEngine No : EN12345678K and Chassis No : MA1234567890XZ\n"
            "Registration Date : 05/06/2015 Fuel DIESEL\nVehicle Class LMV seating cap : 5")
    f = R.extract_vehicle_rc(text)
    assert f["registration_number"] == "KA-05-XY-9999"
    assert f["owner_name"] == "Anil Raj Gupta"
    assert f["engine_number"] == "EN12345678K"
    assert f["chassis_number"] == "MA1234567890XZ"
    assert f["registration_date"] == "05/06/2015"
    assert f["fuel_type"] == "DIESEL"
    assert f["vehicle_class"] == "LMV"
    assert f["seating_capacity"] == "5"


# -- scoring quirks -------------------------------------------------------------

def test_kv_score_constant():
    # kv_score is always 0.5 for the three ID types (dead branches replicated)
    parts = {"image_quality": 1, "ocr_confidence": 1, "regex": 1, "fuzzy": 1,
             "layout": 1, "kv": 0.5, "consistency": 1, "schema": 1,
             "distribution": 1, "spatial": 1}
    # weighted: all 1.0 except kv 0.5 at weight .10 -> 0.95
    assert abs(R.final_confidence(parts) - 0.95) < 1e-12


def test_distribution_penalties():
    # no digits at all in an aadhaar profile -> full 0.5 numeric penalty
    s = R.distribution_score("onlyletters and spaces here", "aadhaar")
    assert abs(s - 0.5) < 1e-12
    # heavy special chars -> garbage penalty ((0.476-0.10)/0.9*0.8 ~ 0.334)
    s2 = R.distribution_score("@@@@@@@@@@ 1234567890", "aadhaar")
    assert abs(s2 - (1.0 - (10 / 21 - 0.10) / 0.90 * 0.8)) < 1e-12


def test_decision_precedence():
    assert R.make_decision(0.99, True, False, True, 0.0) == ("reject", True)   # no text first
    assert R.make_decision(0.99, False, True, True, 0.0) == ("reject", True)   # quality gate
    assert R.make_decision(0.99, True, True, False, 0.0) == ("reject", True)   # mandatory
    assert R.make_decision(0.99, True, True, True, 0.9) == ("reject", True)    # non-alnum 0.85
    assert R.make_decision(0.99, True, True, True, 0.0, multi_document=True) == ("review", False)
    assert R.make_decision(0.90, True, True, True, 0.0) == ("accept", False)
    assert R.make_decision(0.90, True, True, True, 0.0, business_failures=["x"]) == ("review", False)
    assert R.make_decision(0.70, True, True, True, 0.0) == ("review", False)
    assert R.make_decision(0.10, True, True, True, 0.0) == ("reject", False)


def test_business_rules_fixed_api():
    """The reference's own tests call validator._validate_date(field, value)
    (wrong name AND swapped args, tests/test_validation.py:78) — these assert
    the real API semantics instead: DOB must not be future / > 120 years."""
    from datetime import datetime
    stats = R.word_stats(["some", "words", "here", "now", "five"], [])
    assert stats["total_words"] == 5


def test_word_stats_weights():
    # stopword 0.3, numeric 1.5, alpha 1.0 (engine.py:210-217)
    s = R.word_stats(["the", "1234", "word", "other", "words"], [])
    # all conf 100 -> mean 100 regardless of weights
    assert s["mean_confidence"] == 100.0
    assert s["numeric_words"] == 1
    assert s["ocr_confidence_score"] == 1.0
    # below min_words_detected -> 0
    assert R.word_stats(["a", "b"], [])["ocr_confidence_score"] == 0.0


def test_anchor_gate_substring_decidable():
    """The anchor_scores DuckDB oracle (queries._anchor_scores_oracle) is
    substring-form; it is exact only because the fuzzy token-sort gate never
    fires beyond plain substring containment on the synthetic corpus. Assert
    that per document per anchor, so a corpus change that breaks the
    invariant fails HERE, not in the driver's value-hash gate."""
    import os

    import duckdb
    import pytest

    from ocr_spark import config as C
    from ocr_spark.functions.fuzzy import WindowGate, _token_sort, anchor_gate
    from ocr_spark.queries.extraction import _classify_oracle
    from ocr_spark.synth import SYNTH_CORPUS_SQL

    def token_sort_gate(a, ts, threshold):
        return anchor_gate(_token_sort(a.lower()), WindowGate(ts), threshold)

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    con = duckdb.connect()
    for t in ("orders", "documents"):
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    rows = con.execute(
        f"SELECT c.doc_id, c.text, o.doc_type FROM ({SYNTH_CORPUS_SQL}) c "
        f"JOIN ({_classify_oracle()}) o USING (doc_id)"
    ).fetchall()
    assert len(rows) > 0
    for doc_id, text, dt in rows:
        cfg = C.ANCHORS.get(dt)
        if cfg is None:
            continue
        low = text.lower()
        ts = " ".join(sorted(low.split()))
        for a in cfg["required"] + cfg["optional"]:
            if a not in low:
                assert not token_sort_gate(a, ts, cfg["threshold"]), (
                    f"fuzzy gate fired beyond substring: doc {doc_id} ({dt}) anchor {a!r}"
                )


def test_window_gate_matches_brute_force():
    """WindowGate.at_least prunes windows by a histogram bound before the
    exact ratio; its independent reference is the plain scan of every
    same-length window. One gate serves several needles, as one document
    serves its anchors."""
    import random
    from difflib import SequenceMatcher

    from ocr_spark.functions.fuzzy import WindowGate

    # Float edges: each bound, written as overlap * (100.0 / n), rounds
    # just below the threshold that the window's exact ratio meets.
    assert WindowGate("a" * 97).at_least("a" * 97, 100)
    assert WindowGate("a" * 97 + "b" * 97).at_least("a" * 194, 50)

    rng = random.Random(20261018)
    for _ in range(600):
        long = "".join(rng.choice("abc ") for _ in range(rng.randint(1, 60)))
        gate = WindowGate(long)
        for _ in range(5):
            n = rng.randint(1, len(long))
            short = "".join(rng.choice("abc ") for _ in range(n))
            t = rng.randint(50, 100)
            want = any(
                SequenceMatcher(None, short, long[i:i + n]).ratio() * 100 >= t
                for i in range(len(long) - n + 1)
            )
            assert gate.at_least(short, t) == want, (short, long, t)
