"""Reference-default configuration constants.

Every constant here reproduces a value the reference pipeline binds from its
config or hardcodes; the file:line citations point at the reference
(/root/reference, read-only) so parity can be audited. This module is pure
data — safe to broadcast to executors.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Document classification (reference core/classification.py:14-61)
# ---------------------------------------------------------------------------

TYPE_KEYWORDS: dict[str, list[str]] = {
    "aadhaar": [
        "aadhaar", "आधार", "uidai", "government of india",
        "भारत सरकार", "unique identification", "unique identification authority",
        "enrollment", "resident", "dob", "date of birth", "male", "female",
        "gender", "address", "पता",
    ],
    "pan": [
        "income tax", "permanent account number", "pan",
        "income tax department", "govt. of india", "government of india",
        "आयकर विभाग", "स्थायी खाता संख्या", "father", "signature",
        "fathers name", "father's name",
    ],
    "vehicle_rc": [
        "registration certificate", "vehicle", "registration number",
        "engine no", "chassis no", "registering authority", "owner",
        "रजिस्ट्रेशन", "वाहन", "इंजन", "चेसिस", "maker", "model",
        "vehicle class", "reg no", "rc", "rto",
    ],
}

# Regex patterns scored +5 each on match (classification.py:36-61,85-89).
# Written in the common dialect of Python `re` and Java regex so the same
# pattern strings drive both the oracle and Spark `rlike`. Python's \d is
# Unicode-wide while Java's is ASCII, so digit classes are spelled
# [0-9०-९] — ASCII + Devanagari, the exact digit universe the reference
# handles (its transliteration table, normalization.py:47).
DIGIT = "[0-9०-९]"
TYPE_PATTERNS: dict[str, list[str]] = {
    "aadhaar": [
        rf"\b{DIGIT}{{4}}\s+{DIGIT}{{4}}\s+{DIGIT}{{4}}\b",
        rf"\b{DIGIT}{{12}}\b",
        r"(?:aadhaar|आधार)",
        r"UIDAI",
    ],
    "pan": [
        r"\b[A-Z]{5}[0-9]{4}[A-Z]{1}\b",
        r"[I1|]NCOME\s*TAX\s*DEP[A-Z]*",
        r"NCOME\s*T[A-X]+",
        r"P[AE]RM[A-Z]*\s*ACC[A-Z]*\s*NUM[A-Z]*",
        r"(?:father'?s?\s+name)",
        r"GOVT\.?\s*O[Ff]\s*IND[A-Z]*",
    ],
    "vehicle_rc": [
        r"\b[A-Z]{2}\s*[-]?\s*\d{2}\s*[-]?\s*[A-Z]{1,2}\s*[-]?\s*\d{4}\b",
        r"(?:registration\s+certificate|vehicle\s+informa)",
        r"(?:chassis|engine\s+no)",
        r"(?:fuel|seating|unladen|wheel\s*base)",
        r"(?:mfg\s*date|form\s+23)",
        r"(?:model|maker|manufacturer)",
    ],
}

# Tie-break priority when several types share max score (classification.py:108).
CLASSIFY_PRIORITY = ["vehicle_rc", "pan", "aadhaar"]
CLASSIFY_DEFAULT = "aadhaar"  # all-zero fallback (classification.py:97-99)
KEYWORD_MULTIWORD_WEIGHT = 2  # classification.py:82
KEYWORD_WEIGHT = 1
PATTERN_WEIGHT = 5  # classification.py:89

# ---------------------------------------------------------------------------
# 10-component document confidence weights (reference config.yaml:255-266,
# bound in scoring/confidence.py:72-82)
# ---------------------------------------------------------------------------

SCORE_WEIGHTS = {
    "image_quality": 0.10,
    "ocr_confidence": 0.15,
    "regex_match": 0.10,
    "fuzzy_match": 0.10,
    "layout_validity": 0.10,
    "kv_match": 0.10,
    "consistency": 0.10,
    "schema_completeness": 0.15,
    "distribution": 0.05,
    "spatial_compactness": 0.05,
}

# Field importance weights for schema scoring (reference core/pipeline.py:74-78
# == config.yaml:269-284).
FIELD_WEIGHTS = {
    "aadhaar": {"aadhaar_number": 0.4, "name": 0.3, "date_of_birth": 0.3},
    "pan": {"pan_number": 0.5, "name": 0.25, "date_of_birth": 0.25},
    "vehicle_rc": {
        "registration_number": 0.4,
        "owner_name": 0.2,
        "engine_number": 0.2,
        "chassis_number": 0.2,
    },
}

# Required-field map (reference core/pipeline.py:600-606).
REQUIRED_FIELDS = {
    "aadhaar": ["aadhaar_number", "name", "date_of_birth"],
    "pan": ["pan_number", "name", "date_of_birth"],
    "vehicle_rc": ["registration_number", "owner_name"],
}
REQUIRED_FIELDS_DEFAULT = ["id_number", "name"]

# Critical-field threshold for detailed rejection reasons (pipeline.py:390-403).
CRITICAL_FIELD_WEIGHT = 0.25

# ---------------------------------------------------------------------------
# Decision engine (reference config.yaml:286-299, scoring/decision.py:44-54)
# ---------------------------------------------------------------------------

ACCEPT_THRESHOLD = 0.85
REVIEW_THRESHOLD = 0.60
# Reference binds excessive_non_alphanumeric from config (0.85 in
# config.yaml:297); decision.py:52's 0.7 is only the missing-key default.
MAX_NON_ALPHANUMERIC = 0.85

# ---------------------------------------------------------------------------
# OCR confidence aggregation (reference config.yaml:88-95, ocr/engine.py:38-40)
# ---------------------------------------------------------------------------

MIN_WORD_CONFIDENCE = 60.0
MIN_WORDS_DETECTED = 5
STOPWORDS = ["the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for"]
NUMERIC_TOKEN_WEIGHT = 1.5
ALPHA_TOKEN_WEIGHT = 1.0
STOPWORD_WEIGHT = 0.3
LOW_CONF_RATIO_CUTOFF = 0.4  # engine.py:181
NUMERIC_BONUS_CAP = 0.1      # engine.py:189
NUMERIC_BONUS_SCALE = 0.2    # engine.py:189

# ---------------------------------------------------------------------------
# Fuzzy anchors (reference config.yaml:200-215, validation/anchors.py)
# ---------------------------------------------------------------------------

ANCHORS = {
    "aadhaar": {
        "required": ["aadhaar", "uidai", "government of india", "date of birth", "आधार"],
        "optional": ["name", "address", "gender", "pin", "enrollment", "vid"],
        "threshold": 80,
    },
    "pan": {
        "required": ["income tax", "permanent account number", "pan", "government of india"],
        "optional": ["father", "fathers name", "signature", "date of birth", "dob"],
        "threshold": 80,
    },
    "vehicle_rc": {
        "required": ["registration certificate", "registration number", "engine", "chassis", "owner"],
        "optional": ["vehicle", "make", "model", "fuel", "color", "fitness", "insurance"],
        "threshold": 80,
    },
}
ANCHOR_OPTIONAL_BONUS = 0.05   # anchors.py:83
ANCHOR_OPTIONAL_BONUS_CAP = 0.2

# ---------------------------------------------------------------------------
# Token distribution profiles (reference config.yaml:217-231,
# validation/distribution.py)
# ---------------------------------------------------------------------------

DISTRIBUTION_PROFILES = {
    "aadhaar": {"min_numeric_ratio": 0.15, "max_special_char_ratio": 0.10},
    "pan": {"min_numeric_ratio": 0.10, "max_special_char_ratio": 0.05},
    "vehicle_rc": {"min_numeric_ratio": 0.20, "max_special_char_ratio": 0.15},
}
DIST_NUMERIC_PENALTY = 0.5   # distribution.py:55
DIST_SPECIAL_PENALTY = 0.8   # distribution.py:60

# ---------------------------------------------------------------------------
# Quality gate — graft analogs over html bytes (reference
# quality/image_quality.py + config.yaml:5-21). The six image metrics map to
# six page metrics computed by stage A; the normalizer shapes and the
# composite weights are kept identical.
# ---------------------------------------------------------------------------

QUALITY_WEIGHTS = {
    "blur": 0.30,        # analog: content-density score
    "brightness": 0.20,  # analog: text/markup balance
    "resolution": 0.20,  # analog: page byte size
    "contrast": 0.20,    # analog: block-length variance ratio
    "glare": 0.10,       # analog: boilerplate (link-farm) ratio
}
# Gate thresholds (config.yaml:5-13 analogs, same shape/low-bar philosophy).
QUALITY_MIN_CONTENT_SCORE = 50.0     # analog of min_blur_score 50.0
QUALITY_MIN_BALANCE = 20.0           # analog of min_brightness 20
QUALITY_MAX_BALANCE = 240.0          # analog of max_brightness 240
QUALITY_MIN_CONTRAST = 0.2           # min_contrast_ratio
QUALITY_MIN_EDGE_DENSITY = 0.005     # min_edge_density (analog: tag density)
# Reference max_glare_ratio is 0.05 of PIXELS (config.yaml:12); the page
# analog is the fraction of characters inside links, whose natural range on
# web pages is ~0.04-0.14, so the gate binds at 0.10 (same role: reject pages
# drowned in boilerplate "glare").
QUALITY_MAX_GLARE_RATIO = 0.10
# Normalizer knees (image_quality.py:237-284).
QUALITY_BLUR_CAP = 1000.0
QUALITY_BRIGHTNESS_PEAK = 127.5
# Page-analog knees (html byte size stands in for pixel count; same piecewise
# shape as image_quality.py:254-266 with web-page-scale knees).
PAGE_RES_MIN_BYTES = 512.0
PAGE_RES_GOOD_BYTES = 4096.0
QUALITY_CONTRAST_LOW = 0.1
QUALITY_CONTRAST_KNEE = 0.5

# ---------------------------------------------------------------------------
# Vehicle RC domain constants (reference documents/vehicle_rc.py:22-27,416,458-462)
# ---------------------------------------------------------------------------

RC_STATE_CODES = [
    "AN", "AP", "AR", "AS", "BR", "CH", "CG", "DD", "DL", "DN", "GA",
    "GJ", "HP", "HR", "JH", "JK", "KA", "KL", "LA", "LD", "MH", "ML",
    "MN", "MP", "MZ", "NL", "OD", "OR", "PB", "PY", "RJ", "SK", "TN",
    "TR", "TS", "UK", "UP", "WB",
]
FUEL_TYPES = ["PETROL", "DIESEL", "CNG", "LPG", "ELECTRIC", "HYBRID", "PETRO"]
VEHICLE_CLASSES = [
    "MCWG", "MCWOG", "LMV", "LMV-NT", "HMV", "HTV", "MGV", "LGV",
    "PSV", "HPMV", "HGMV", "TRANS",
]

# PAN fuzzy-correction maps (reference documents/pan.py:129-130).
PAN_TO_ALPHA = {"0": "O", "1": "I", "5": "S", "8": "B", "2": "Z", "6": "G"}
PAN_TO_DIGIT = {
    "O": "0", "Q": "0", "D": "0", "I": "1", "L": "1",
    "S": "5", "B": "8", "Z": "2", "A": "4",
}
PAN_VALID_FOURTH = ["A", "B", "C", "F", "G", "H", "L", "J", "P", "T"]

# Numeric-context OCR de-confusion (reference validation/normalization.py:24-31).
NUMERIC_CONFUSION = {
    "O": "0", "o": "0", "I": "1", "l": "1", "i": "1",
    "S": "5", "s": "5", "B": "8", "G": "6", "Z": "2", "z": "2",
}

DEVANAGARI_DIGITS = "०१२३४५६७८९"
ARABIC_DIGITS = "0123456789"

# Hardcoded year cap in the reference's date validity checks
# (documents/aadhaar.py:319, pan.py:335, vehicle_rc.py:407).
DATE_MAX_YEAR = 2024
DATE_MIN_YEAR = 1900
DATE_MIN_YEAR_RC = 1950

# Name-validity stoplists (aadhaar.py:246-249, pan.py:258-261, vehicle_rc.py:263-266).
NAME_STOPLIST_AADHAAR = [
    "government", "india", "aadhaar", "male", "female",
    "address", "date", "birth", "dob",
]
NAME_STOPLIST_PAN = [
    "income", "tax", "department", "government", "india", "permanent",
    "account", "number", "signature", "date", "birth", "father",
]
NAME_STOPLIST_RC = [
    "registration", "certificate", "vehicle", "engine", "chassis",
    "authority", "date", "class", "model", "make",
]

# Dual-pass priority-merge field lists (reference core/pipeline.py:300-311).
PRIORITY_FIELDS = {
    "aadhaar": ["aadhaar_number", "name", "date_of_birth", "gender", "address"],
    "pan": ["pan_number", "name", "father_name", "date_of_birth"],
    "vehicle_rc": ["registration_number", "owner_name", "engine_number", "chassis_number"],
}

# ---------------------------------------------------------------------------
# Stage A (boilerpipe-style main-content extraction) tuning — ours, not the
# reference's (the graft analog of segmentation config config.yaml:49-77).
# ---------------------------------------------------------------------------

MAX_LINK_DENSITY = 1.0 / 3.0   # boilerpipe classifier link-density cutoff
MIN_BLOCK_WORDS = 3            # content blocks need >= this many words
BOILER_TAGS = ("nav", "header", "footer", "aside")  # structural boilerplate

# Stage B recognizer confidence floor — analog of min_word_confidence.
RECOGNIZER_MIN_CONF = 0.60

# Skew-defusing salt partition count multiplier (shuffle width = cores * this).
SALT_PARTITIONS_PER_CORE = 2

# Conflicting-schema detection (text analog of spatial_validator.py:150-187
# field-cluster spread): >= 2 DISTINCT core document ids on one page = two
# documents of the same schema side by side -> hard reject. Patterns are
# RE2/Java/Python-common (no lookbehind); the optional VID prefix form is
# matched-and-filtered so an aadhaar VID sidecar is never counted as a core
# id. Matches are normalized (separators stripped) before the distinct.
CORE_ID_PATTERNS = {
    "aadhaar": r"(?:VID\s)?\b[0-9]{4}\s[0-9]{4}\s[0-9]{4}\b|\b[0-9]{12}\b",
    "pan": r"\b[A-Z]{5}[0-9]{4}[A-Z]\b",
    "vehicle_rc": r"\b[A-Z]{2}[-\s]?[0-9]{2}[-\s]?[A-Z]{1,2}[-\s]?[0-9]{4}\b",
}

# Multi-document detection (document_detector.py:26 min_area_ratio analog):
# a DOM content cluster (run of content blocks between structural-boilerplate
# boundaries) counts as a document region iff it holds at least this share
# of the page's content chars; >1 region -> multi_document (review).
MIN_REGION_CONTENT_RATIO = 0.20
