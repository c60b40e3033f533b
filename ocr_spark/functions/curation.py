"""Corpus-curation operators beyond dedup: n-gram language-model quality
scoring (the CCNet/Gopher-style perplexity filter), PII scrubbing,
Gopher-style repetition signals, C4-style corpus-level n-gram sharing,
and deterministic stratified sampling.

Scale notes (100 TB):
- the LM is trained and applied in one lazy program: unigram/bigram counts
  are corpus-level hash aggregations (map-side partials, shuffle keyed on
  the gram), and scoring joins each document's exploded bigrams against the
  count tables — shuffles are keyed on gram strings, never on documents,
  so hot grams spread across reducers and AQE can split true skew;
- per-term log-probabilities are carried as exact BIGINT micro-nats
  (round(ln(p)*1e6)) so the per-document SUM is order-independent and
  bit-identical cross-engine (float sums over unordered groups are not);
- pii_scrub is a pure projection — codegen'd regexp_replace chain, no
  shuffle, safe to fuse into any scan;
- repetition_stats shuffles on (doc, n, gram) — the doc id in the key keeps
  even a pathological single-gram corpus spread across reducers;
- corpus_dup_ngrams shuffles on the gram for the document-frequency count
  and join; boilerplate grams are exactly the hot keys this op measures,
  and the key is a plain string column AQE's skew-join splitting handles;
- stratified_sample is a stateless hash filter (no shuffle, no RNG state):
  the same row always draws the same uniform, so the sample is reproducible
  across retries, partitionings, and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from pyspark.sql.window import Window

# Dialect-common PII patterns (Java regex / RE2 / Python re agree):
# emails, international-ish phone numbers, 12-digit aadhaar-style ids.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{2,3}[-\s][0-9]{5}[-\s][0-9]{5}\b"),
    ("id12", r"\b[0-9]{4}\s[0-9]{4}\s[0-9]{4}\b|\b[0-9]{12}\b"),
]


def pii_scrub(text: Column) -> tuple[Column, Column]:
    """Redact PII spans with typed placeholders; returns (scrubbed text,
    redaction count). Patterns apply in declaration order, so an email is
    never re-matched as a phone fragment."""
    scrubbed = text
    n = F.lit(0)
    for name, pat in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
        scrubbed = F.regexp_replace(scrubbed, pat, f"[{name.upper()}]")
    return scrubbed, n


def url_host(url: Column) -> Column:
    """Lowercased host of an absolute URL. The scheme match is
    case-insensitive (RFC 3986 schemes are); the host branch tries an
    IPv6/IPvFuture bracket literal first (inside which ':' is not a port
    separator, brackets stripped), then the reg-name form, where
    [^/:?#]+ stops at the port colon / path / query with no lookahead
    (RE2, the oracle dialect, has none)."""
    raw_host = F.regexp_extract(
        url, r"(?i)^[a-z][a-z0-9+.-]*://(\[[^\]]+\]|[^/:?#]+)", 1)
    return F.lower(F.regexp_replace(raw_host, r"^\[|\]$", ""))


def url_host_stats(df: DataFrame, url_col: str) -> DataFrame:
    """Per-host crawl statistics (the host-level view every web-corpus
    filter starts from): host, TLD, document count, path-depth totals.
    Pure regexp parsing (dialect-common — no parse_url, which DuckDB
    lacks) + one hash aggregation keyed on host (map-side partials; hot
    hosts are exactly what this op is for measuring)."""
    url = F.col(url_col)
    host = url_host(url)
    path = F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    depth = (F.length(path) - F.length(F.regexp_replace(path, "/", ""))).cast("bigint")
    return (
        df.select(
            host.alias("host"),
            F.regexp_extract(host, r"\.([a-z]+)$", 1).alias("tld"),
            depth.alias("depth"),
        )
        .groupBy("host", "tld")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("depth").alias("sum_depth"),
            F.max("depth").alias("max_depth"),
        )
    )


# Tracking query parameters every crawl canonicalizer strips.
TRACKING_PARAMS = r"(utm_[a-z0-9]+|fbclid|gclid|msclkid)"


def canonical_url(url: Column) -> Column:
    """Canonicalize an absolute http(s) URL — the normalization pass that
    precedes URL-level dedup and host aggregation in a crawl pipeline:

    1. drop the fragment;
    2. lowercase the scheme://authority prefix (path/query case preserved);
    3. drop scheme-default ports (:80 for http, :443 for https);
    4. strip tracking query parameters (utm_*, fbclid, gclid, msclkid);
    5. drop a now-empty query ('?' with nothing behind it);
    6. give a bare authority the explicit '/' root path.

    Pure codegen'd regexp projection (no shuffle, fuses into any scan); the
    regexes stay in the common Java/RE2 dialect (no lookarounds), so the
    DuckDB oracle runs character-identical logic. Assumes absolute URLs with
    a scheme, the shape a crawl frontier stores."""
    u = F.regexp_replace(url, r"#.*", "")
    prefix = F.lower(F.regexp_extract(u, r"(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)", 1))
    rest = F.regexp_replace(u, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    prefix = F.regexp_replace(prefix, r"^(http://.*):80$", "$1")
    prefix = F.regexp_replace(prefix, r"^(https://.*):443$", "$1")
    u = F.concat(prefix, rest)
    # &-prefixed tracking params (global), then a ?-prefixed one (takes the
    # following separator with it), then a dangling trailing '?'.
    u = F.regexp_replace(u, r"&" + TRACKING_PARAMS + r"=[^&#]*", "")
    u = F.regexp_replace(u, r"\?" + TRACKING_PARAMS + r"=[^&#]*&?", "?")
    u = F.regexp_replace(u, r"\?$", "")
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+)$", "$1/")
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+)\?", "$1/?")
    return u


def _doc_words(df: DataFrame, id_col: str, text_col: str,
               keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc, words[, *keep]) projection; ``keep`` names extra columns to
    carry through in the same projection (cheaper than re-joining them on
    doc afterwards)."""
    words = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    return df.select(F.col(id_col).alias("doc"), words.alias("words"),
                     *[F.col(c) for c in keep])


def _word_grams(words: Column, k: int) -> Column:
    """Length-k word grams joined with single spaces; empty array when the
    document has fewer than k words (Spark's sequence(1, 0) would descend,
    so the guard is mandatory, not cosmetic)."""
    if k == 1:
        return words
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (k - 1))
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(words, i + F.lit(j)) for j in range(k)])
    return F.when(n >= k, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>"))


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, ns: tuple[int, ...] = (1, 2, 3)
) -> DataFrame:
    """Gopher-style within-document repetition signals: most-frequent-word
    fraction, top-bigram fraction, and the fraction of trigram occurrences
    whose trigram repeats within the document. High values mark boilerplate,
    keyword stuffing, and degenerate generations.

    The signals are PER-DOCUMENT statistics, so the plan is a pure
    projection — ZERO shuffle, zero explode: each gram array is sorted in
    place and its multiset stats (max multiplicity, mass of repeated values)
    come from one linear run-length scan inside a HOF aggregate. An earlier
    explode → (doc, n, gram) groupBy version shipped every gram occurrence
    through two shuffles (~3 rows per word corpus-wide) and measured 8x
    slower than a native engine at 500k docs; this shape is embarrassingly
    parallel and scales with the scan.

    Fractions are NULL when the document is too short to define them.
    ``ns`` restricts which gram orders are computed: a caller that drops a
    fraction column (curation_pass reads only n=1 and n=3) skips that
    order's sort+scan entirely; dropped columns come back NULL."""
    base = _doc_words(df, id_col, text_col)
    w = F.col("words")

    def stats(k: int) -> Column | None:
        return _run_stats(_word_grams(w, k)) if k in ns else None

    def frac(s: Column | None, field: str, total: Column) -> Column:
        if s is None:
            return F.lit(None).cast("double")
        return F.when(
            total > 0, F.round(s[field].cast("double") / total, 6))

    n1, n2, n3 = F.size(w), F.size(w) - 1, F.size(w) - 2
    return base.select(
        "doc",
        F.size(w).cast("bigint").alias("n_words"),
        frac(stats(1), "mx", n1).alias("max_word_frac"),
        frac(stats(2), "mx", n2).alias("top_bigram_frac"),
        frac(stats(3), "dup", n3).alias("dup_trigram_frac"),
    )


def _run_stats(grams: Column) -> Column:
    """Multiset statistics of a gram array without explode or shuffle: sort,
    then one linear run-length scan in a single HOF aggregate. Returns
    struct(mx = max multiplicity of any value, dup = total occurrences of
    values appearing >= 2 times)."""
    g = F.array_sort(grams)
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"), zero.alias("mx"), zero.alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint"))
        # a run reaching 2 retro-credits both members; each longer step adds 1
        dup_inc = F.when(run == 2, 2).when(run > 2, 1).otherwise(0)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["mx"], run).alias("mx"),
            (acc["dup"] + dup_inc).alias("dup"),
        )

    return F.aggregate(
        g, init, step,
        lambda acc: F.struct(acc["mx"].alias("mx"), acc["dup"].alias("dup")),
    )


def corpus_dup_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, min_docs: int = 2
) -> DataFrame:
    """C4-style corpus-level boilerplate signal: for each document, the
    fraction of its DISTINCT word n-grams that occur in >= min_docs
    documents corpus-wide. Navigation chrome, legal footers, and template
    text score high; unique prose scores low.

    Shape: per-row array_distinct BEFORE the explode (dedup within a doc is
    row-local — a corpus-wide distinct shuffle for it would ship every gram
    occurrence), then a document-frequency hash agg keyed on the gram and a
    join back on the gram with a per-doc conditional sum. The gram-keyed
    shuffle is the scale surface; hot boilerplate grams are plain string
    keys AQE skew splitting divides, and each doc contributes a gram once,
    bounding the join fan-out at n_docs-per-gram, never occurrences."""
    base = _doc_words(df, id_col, text_col)
    dg = base.select(
        "doc",
        F.explode(F.array_distinct(_word_grams(F.col("words"), n))).alias("gram"),
    )
    freq = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("dfreq"))
    per_doc = dg.join(freq, "gram").groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("dfreq") >= min_docs, 1).otherwise(0)).alias("n_shared"),
    )
    return base.select("doc").join(per_doc, "doc", "left").select(
        "doc",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        F.round(F.col("n_shared").cast("double") / F.col("n_grams"), 6).alias(
            "shared_frac"),
    )


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_df: DataFrame,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word n-grams also occur in the evaluation set, and a
    contaminated flag at >= min_hits overlaps — the pass every training
    corpus runs before a model ships, so eval numbers measure generalization
    rather than memorization.

    eval_df carries the eval text under the same (id_col, text_col) names.
    Shape: distinct eval grams are a small dimension broadcast to every
    executor (eval sets are benchmark-sized — thousands of docs — while the
    training side is the 100 TB side; if the eval gram set ever outgrew the
    broadcast guard, dropping the hint degrades gracefully to a gram-keyed
    shuffle join, same results). On the training side, within-doc gram
    dedup is row-local (array_distinct before the explode — a corpus-wide
    .distinct() would ship every gram occurrence through a wide shuffle),
    so the only exchange is the map-side-combined per-doc count. The eval
    side keeps the corpus-wide .distinct(): it is cross-document and tiny."""
    eval_grams = (
        _doc_words(eval_df, id_col, text_col)
        .select(F.explode(F.array_distinct(_word_grams(F.col("words"), n))).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    base = _doc_words(df, id_col, text_col)
    dg = base.select(
        "doc",
        F.explode(F.array_distinct(_word_grams(F.col("words"), n))).alias("gram"),
    )
    per_doc = (
        dg.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
    )
    return base.select("doc").join(per_doc, "doc", "left").select(
        "doc",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 6).alias(
            "hit_frac"),
        (F.coalesce("n_hits", F.lit(0)) >= min_hits).cast("int").alias(
            "contaminated"),
    )


SAMPLE_SALT = "strat:v1"
_HASH_SPAN = 1 << 32  # first 8 md5 hex chars -> uniform over [0, 2^32)


def sample_hash(id_col: Column, salt: str = SAMPLE_SALT) -> Column:
    """Deterministic uniform draw over [0, 2^32) from md5(salt:id) — the
    shared primitive of every hash-sampled curation decision."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), id_col.cast("string"))), 1, 8),
        16, 10,
    ).cast("bigint")


def rate_threshold(
    strata_col: Column, rates: dict[str, float], default_rate: float = 1.0
) -> Column:
    """Per-stratum keep threshold as an exact integer (rate * 2^32)."""
    thresh: Column = F.lit(int(round(default_rate * _HASH_SPAN)))
    for stratum, rate in rates.items():
        thresh = F.when(
            strata_col == stratum, F.lit(int(round(rate * _HASH_SPAN)))
        ).otherwise(thresh)
    return thresh


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Deterministic per-stratum downsampling (the language-rebalancing pass
    of every multilingual corpus build): keep a row iff the first 32 bits of
    md5(salt:id) fall below rate(stratum) * 2^32.

    Stateless and engine-portable — no RNG, no seed plumbing, no shuffle; a
    pure codegen'd filter that fuses into the scan, and the keep/drop
    decision for a given id never changes across retries, partition counts,
    or re-runs (which is what makes downstream incremental jobs sane).
    Thresholds compare as exact integers so the rate boundary is not
    float-fuzzy."""
    h = sample_hash(F.col(id_col), salt)
    thresh = rate_threshold(F.col(strata_col), rates, default_rate)
    return df.select(
        F.col(id_col).alias("doc"),
        F.col(strata_col).alias("stratum"),
        h.alias("sample_hash"),
    ).filter(F.col("sample_hash") < thresh)


def curation_pass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    strata_col: str,
    eval_df: DataFrame,
    rates: dict[str, float],
    max_word_frac: float = 0.15,
    dup_trigram_frac: float = 0.02,
    contamination_n: int = 3,
    contamination_min_hits: int = 2,
) -> DataFrame:
    """The full retention decision a training-data build makes per document,
    rules applied first-match-wins:

    1. 'repetitive'   — Gopher repetition signals above threshold;
    2. 'contaminated' — shares >= min_hits distinct n-grams with the eval
                        set (decontaminate);
    3. 'sampled_out'  — deterministic per-stratum hash draw above rate;
    4. 'keep'.

    Returns (doc, reason, keep). Composition shape: the repetition and
    contamination branches each aggregate to one row per doc (doc-keyed
    shuffles), then two doc-keyed joins and a codegen'd CASE — no new scale
    surface beyond the component operators', and the branches share the
    input scan. Exact dedup is deliberately NOT restated here: it is its own
    pass (dedup_decide) run before this one, on the raw corpus."""
    rep = repetition_stats(df, id_col, text_col, ns=(1, 3))
    dec = decontaminate(
        df, id_col, text_col, eval_df, contamination_n, contamination_min_hits)
    base = df.select(
        F.col(id_col).alias("doc"),
        sample_hash(F.col(id_col)).alias("sample_hash"),
        rate_threshold(F.col(strata_col), rates).alias("thresh"),
    )
    j = base.join(rep, "doc").join(dec.select("doc", "contaminated"), "doc")
    repetitive = (
        F.coalesce(F.col("max_word_frac") > max_word_frac, F.lit(False))
        | F.coalesce(F.col("dup_trigram_frac") > dup_trigram_frac, F.lit(False))
    )
    reason = (
        F.when(repetitive, "repetitive")
        .when(F.col("contaminated") == 1, "contaminated")
        .when(F.col("sample_hash") >= F.col("thresh"), "sampled_out")
        .otherwise("keep")
    )
    return j.select(
        "doc",
        reason.alias("reason"),
        (reason == "keep").cast("int").alias("keep"),
    )


def line_dedup(
    df: DataFrame, id_col: str, text_col: str, min_docs: int = 2
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal: drop every
    line whose normalized form (lowercased, trimmed) occurs in >= min_docs
    documents corpus-wide, and rebuild each document from its surviving
    lines in original order. Navigation chrome, cookie banners, and footer
    text — the lines exact-document dedup never catches because the
    surrounding prose differs — are exactly the lines this removes.

    Returns (doc, n_lines, n_removed, clean_text); a document whose every
    line is boilerplate comes back with clean_text = ''.

    Scale shape: the line-frequency count and the kept-line join are keyed
    on md5(normalized line) — a fixed 32-byte key, so the wide exchanges
    ship hashes, not line text (boilerplate lines are long and hot; the
    count is map-side combinable and the hot hash keys are what AQE skew
    splitting divides). Within-doc dedup of the frequency contribution is
    row-local (array_distinct before the explode). Reassembly is one
    doc-keyed shuffle whose array_sort on (pos, line) makes the rebuilt
    text order-exact regardless of partitioning. Blank lines are preserved
    verbatim and never counted as boilerplate."""
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
    lines = base.select(
        "doc", F.posexplode(F.split("text", "\n")).alias("pos", "line"))
    norm = F.lower(F.trim(F.col("line")))
    ln = lines.withColumn(
        "h", F.when(norm != "", F.md5(norm)))
    freq = (
        ln.filter(F.col("h").isNotNull())
        .select("doc", "h").distinct()
        .groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") >= min_docs)
    )
    kept = ln.join(freq, "h", "left").filter(F.col("dfreq").isNull())
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select(
            "doc", F.size(F.split("text", "\n")).cast("bigint").alias("n_lines"))
        .join(rebuilt, "doc", "left")
        .select(
            "doc",
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def tfidf_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the keyword
    extraction / topic-tagging primitive of corpus analytics. Score =
    tf * ln(N / df), carried as an exact BIGINT micro-nat product so
    ranking ties are impossible to float-fuzz cross-engine; ties broken by
    term ascending.

    Scale shape: term counts per doc aggregate on (doc, term); document
    frequency aggregates on the term (map-side partials both — each doc
    contributes a term once to df via row-local array_distinct); the idf
    join is keyed on the term (hot stopwords are plain string keys AQE
    splits), and the final top-k is a per-doc window — never a global
    sort. Output: (doc, term, tf, score_micro, rank)."""
    from pyspark.sql.window import Window

    base = _doc_words(df, id_col, text_col)
    n_docs = base.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        base.select("doc", F.explode("words").alias("term"))
        .groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        base.select("doc", F.explode(F.array_distinct("words")).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc", "term", "tf",
            (F.col("tf") * F.round(
                F.log(F.col("n").cast("double") / F.col("df")) * 1000000
            ).cast("bigint")).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc", "term", F.col("tf").cast("bigint").alias("tf"),
            "score_micro", F.col("rank").cast("bigint").alias("rank"),
        )
    )


def select_under_budget(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    band_col: str,
    token_budget: int,
    salt: str = "budget:v1",
) -> DataFrame:
    """Greedy best-quality-first corpus selection under a total token
    budget, WITHOUT a global sort: documents arrive pre-bucketed into
    integer quality bands (higher = better); whole bands are taken from the
    best down while they fit, and the single boundary band is filled to the
    residual budget by a deterministic hash draw at rate
    (budget - tokens_above) / band_tokens. Band granularity is the
    precision/scalability trade: the fill is token-exact across bands and
    rate-approximate within the boundary band only.

    Returns one row per document: (doc, band, n_tokens, rate, keep).

    Scale shape: one band-keyed token agg (map-side partials) reduces the
    corpus to a bands-sized table; the only ordered operation is a window
    over THOSE rows (bounded by the band domain, e.g. 64 — a driver-trivial
    frame, explicitly never over documents); rates broadcast back onto the
    corpus as a codegen'd hash filter. A quality-ordered global sort of
    100 TB is exactly what this plan avoids."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
        F.col(band_col).cast("bigint").alias("band"),
    )
    bands = base.groupBy("band").agg(F.sum("n_tokens").alias("bt"))
    w = (
        Window.orderBy(F.desc("band"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("bt").over(w), F.lit(0).cast("bigint"))
    ranked = bands.select("band", "bt", cum_before.alias("cum_before"))
    budget = F.lit(int(token_budget)).cast("bigint")
    rate = (
        F.when(F.col("cum_before") + F.col("bt") <= budget, F.lit(1.0))
        .when(
            F.col("cum_before") < budget,
            F.round(
                (budget - F.col("cum_before")).cast("double") / F.col("bt"), 6),
        )
        .otherwise(F.lit(0.0))
    )
    rates = ranked.select("band", rate.alias("rate"))
    thresh = F.round(F.col("rate") * _HASH_SPAN).cast("bigint")
    return base.join(F.broadcast(rates), "band").select(
        "doc", "band", "n_tokens", "rate",
        (sample_hash(F.col("doc"), salt) < thresh).cast("int").alias("keep"),
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    text_col: str,
    salt: str = "temp:v1",
) -> DataFrame:
    """Temperature-based stratum rebalancing at alpha = 0.5 (T = 2): target
    shares proportional to sqrt(token mass), the standard multilingual
    mixing rule that upweights low-resource strata. Each stratum's keep
    rate is (target share / natural share), scaled so the most-upweighted
    stratum keeps everything, and documents draw the same deterministic
    md5 hash as stratified_sample — no RNG, retry/partition/engine-stable.

    Returns one row per document: (doc, stratum, n_tokens, rate, keep).

    Cross-engine exactness: per-stratum token masses are exact BIGINTs;
    sqrt weights are quantized to BIGINT micro-units BEFORE the corpus-wide
    normalization sums, so every sum is integer and order-free; the rate is
    then a fixed sequence of single correctly-rounded double ops, rounded
    to 6, and compared as an exact integer threshold. alpha is fixed at 0.5
    because sqrt is correctly rounded in every IEEE libm while pow() is not
    — a general alpha would un-pin the oracle.

    Scale shape: one stratum-keyed token-mass agg (map-side partials), a
    strata-sized stats table broadcast back onto the corpus, and a
    codegen'd hash filter — the corpus is never shuffled."""
    base = _doc_words(df, id_col, text_col)
    docs = base.select(
        "doc",
        F.size("words").cast("bigint").alias("n_tokens"),
    ).join(
        df.select(F.col(id_col).alias("doc"),
                  F.col(strata_col).alias("stratum")),
        "doc",
    )
    stats = docs.groupBy("stratum").agg(F.sum("n_tokens").alias("ts"))
    stats = stats.select(
        "stratum", "ts",
        F.round(F.sqrt(F.col("ts").cast("double")) * 1000000)
        .cast("bigint").alias("w"),
    )
    totals = stats.agg(
        F.sum("ts").alias("t"), F.sum("w").alias("sumw"))
    ratio = (
        (F.col("w").cast("double") / F.col("sumw"))
        * (F.col("t").cast("double") / F.col("ts"))
    )
    rated = stats.crossJoin(F.broadcast(totals)).select(
        "stratum", ratio.alias("ratio"))
    maxr = rated.agg(F.max("ratio").alias("maxr"))
    rates = rated.crossJoin(F.broadcast(maxr)).select(
        "stratum",
        F.round(F.least(F.lit(1.0), F.col("ratio") / F.col("maxr")), 6)
        .alias("rate"),
    )
    thresh = F.round(F.col("rate") * _HASH_SPAN).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "stratum")
        .select(
            "doc", "stratum", "n_tokens", "rate",
            (sample_hash(F.col("doc"), salt) < thresh).cast("int").alias("keep"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into overlapping fixed-token training windows — the
    context-window chunking step between curation and tokenization
    (pack_shards assigns whole documents to shards; this op cuts documents
    that exceed the window). Chunk j starts at token 1 + j * stride
    (stride = chunk_tokens - overlap) and takes up to chunk_tokens tokens;
    n_chunks = 1 + ceil(max(n - chunk_tokens, 0) / stride), so every token
    lands in at least one chunk and consecutive chunks share ``overlap``
    tokens. Empty documents produce no chunks.

    Returns (doc, chunk_id, start_tok, n_tokens, chunk_text).

    Scale shape: a pure per-row projection + explode — ZERO shuffle; the
    token array is materialized once per row and sliced per chunk (HOF
    transform over an attribute column, bounded at ~n/stride slices)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    base = _doc_words(df, id_col, text_col)
    w = base.select("doc", F.col("words").alias("w")).filter(F.size("w") > 0)
    n = F.size(F.col("w"))
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(float(stride)))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.struct(
            j.cast("bigint").alias("chunk_id"),
            (j * stride + 1).cast("bigint").alias("start_tok"),
            F.least(F.lit(chunk_tokens), n - (j * stride)).cast("bigint").alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("w"), j * stride + 1, chunk_tokens)
            ).alias("chunk_text"),
        ),
    )
    return (
        w.select("doc", F.explode(chunks).alias("c"))
        .select("doc", "c.chunk_id", "c.start_tok", "c.n_tokens", "c.chunk_text")
    )


def length_percentiles(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-stratum percentiles of an integer metric (doc length,
    token count) — the distribution report a corpus build gates on, with
    none of approx_percentile's engine-specific sketch fuzz. Percentile q
    is the smallest value whose cumulative count reaches ceil(q * n) (the
    discrete lower quantile), so results are integers and bit-identical
    cross-engine.

    Scale shape: the heavy aggregation is groupBy(stratum, value) with
    map-side partials — the shuffle carries one row per DISTINCT
    (stratum, value), bounded by the value domain, never by document
    count. The cumulative window then runs over those distinct values
    only (thousands per stratum, not billions of rows), which is what
    makes EXACT percentiles tractable at 100 TB where a per-row
    per-stratum sort would hot-spot on the biggest language."""
    counts = (
        df.select(
            F.col(strata_col).alias("stratum"),
            F.col(value_col).cast("bigint").alias("val"),
        )
        .groupBy("stratum", "val")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("stratum").orderBy("val")
    cum = F.sum("c").over(w)
    n = F.sum("c").over(Window.partitionBy("stratum"))
    ranked = counts.select(
        "stratum", "val", cum.alias("cum"), n.alias("n"))
    aggs = [F.max("n").cast("bigint").alias("n_docs")]
    for q in qs:
        name = f"p{int(round(q * 100))}"
        aggs.append(
            F.min(
                F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("val"))
            ).cast("bigint").alias(name)
        )
    return ranked.groupBy("stratum").agg(*aggs)


def pack_shards(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens_per_shard: int = 100_000,
    n_buckets: int = 64,
    salt: str = "shard:v1",
) -> DataFrame:
    """Assign documents to fixed-token-budget training shards — the step
    between curation and tokenization. Documents land in one of
    ``n_buckets`` hash buckets (deterministic md5 draw, so assignment is
    retry/partition/engine-stable), and within a bucket a running token
    total packs them greedily in id order: shard = bucket * 2^32 +
    floor(cumulative_tokens_before / tokens_per_shard).

    Scale shape: the ONLY wide operation is one window partitioned by
    bucket and ordered by id — per-bucket sorts run in parallel, and no
    global sort or single-partition window exists anywhere. n_buckets
    bounds each sort's size at corpus/n_buckets; raise it with the corpus
    so a bucket's docs fit an executor's spill budget. The cumulative sum
    is over exact BIGINT token counts, so shard boundaries are identical
    cross-engine."""
    from pyspark.sql.window import Window

    n_tok = F.size(
        F.when(
            F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
        ).otherwise(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    ).cast("bigint")
    bucket = (sample_hash(F.col(id_col), salt) % n_buckets).cast("bigint")
    base = df.select(
        F.col(id_col).alias("doc"),
        bucket.alias("bucket"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("doc")
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    shard = (F.col("bucket") * F.lit(1 << 32)
             + F.floor(cum_before / tokens_per_shard)).cast("bigint")
    return base.select("doc", "bucket", "n_tokens", shard.alias("shard"))


def ngram_lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Bigram-LM document quality score, trained on the corpus itself and
    applied to every document (self-perplexity — boilerplate and gibberish
    score high, fluent in-domain text low).

    P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)  (add-one smoothing, V =
    distinct unigrams). Output per doc: n_terms, sum_logp_micro (exact
    BIGINT micro-nats), ppl = exp(-sum / n / 1e6) rounded to 6."""
    base = _doc_words(df, id_col, text_col)
    flat = base.select("doc", F.explode("words").alias("w"))
    uni = flat.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))

    n = F.size("words")
    m = n - 1
    bigrams = base.select(
        "doc",
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice("words", 1, m), F.slice("words", 2, m),
                    lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("bg")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
        ).alias("t"),
    ).select("doc", F.col("t.w1").alias("w1"), F.col("t.bg").alias("bg"))

    big = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    joined = (
        bigrams.join(big, "bg")
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    # exact integer micro-nats: the only float op is one ln per DISTINCT
    # probability value; the per-doc SUM is integer (order-free)
    term = F.round(
        F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))) * 1000000
    ).cast("bigint")
    per_doc = joined.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(term).alias("sum_logp_micro"),
    )
    all_docs = base.select("doc").join(per_doc, "doc", "left")
    return all_docs.select(
        "doc",
        F.coalesce("n_terms", F.lit(0)).cast("bigint").alias("n_terms"),
        F.coalesce("sum_logp_micro", F.lit(0)).cast("bigint").alias("sum_logp_micro"),
        F.when(
            F.col("n_terms").isNotNull(),
            F.round(
                F.exp(-F.col("sum_logp_micro").cast("double") / F.col("n_terms") / 1000000.0), 6
            ),
        ).alias("ppl"),
    )


def fk_violations(
    child: DataFrame, fk: str, parent: DataFrame, pk: str, name: str
) -> DataFrame:
    """Referential-integrity check: one report row per relationship —
    (relationship, n_rows, n_orphans, n_orphan_keys) where an orphan is a
    child row whose foreign key has no parent (NULL fks are orphans too:
    a fact row that cannot join its dimension is broken regardless of
    why). The data-quality gate a warehouse load runs before publishing.

    Scale shape: one left join keyed on the fk (Catalyst broadcasts small
    dimensions automatically; big parents degrade to a shuffle join on
    the key) feeding a single global aggregate — count/distinct of the
    orphan subset only."""
    orphan = (
        child.select(F.col(fk).alias("fk"))
        .join(parent.select(F.col(pk).alias("fk")).distinct(), "fk", "left_anti")
    )
    stats = orphan.agg(
        F.count(F.lit(1)).alias("n_orphans"),
        F.countDistinct("fk").alias("n_orphan_keys"),
    )
    total = child.agg(F.count(F.lit(1)).alias("n_rows"))
    return total.crossJoin(stats).select(
        F.lit(name).alias("relationship"),
        F.col("n_rows").cast("bigint"),
        F.col("n_orphans").cast("bigint"),
        F.col("n_orphan_keys").cast("bigint"),
    )


def hll_distinct(df: DataFrame, col: str, b: int = 8) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch: md5-derived 32-bit
    hash, first ``b`` bits pick the register, the remaining field's
    leading-zero count (+1) is the rank, registers merge by MAX — the
    mergeable cardinality sketch every >1-pass distinct at 100 TB uses,
    built fully engine-portable (md5 registers, integer rank via binary
    string length — no float log, no platform RNG). Returns one row:
    (m, sum_scaled, est_distinct, exact_distinct).

    sum_scaled = SUM over registers of 2^(32 - M_j) — an exact BIGINT
    (2^32 * the harmonic denominator), so the only float op is the final
    estimate division. exact_distinct is computed alongside for the error
    report; at production scale it is the column you drop.

    Scale shape: one (register)-keyed MAX agg — 2^b groups, map-side
    partials reduce every partition to <= 2^b rows, which IS the HLL merge
    property; the register frame joins against a literal 2^b-row range so
    empty registers contribute their 2^32 term."""
    m = 1 << b
    shift = 32 - b
    alpha = 0.7213 / (1 + 1.079 / m)
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    parts = df.select(h.alias("h")).select(
        F.expr(f"h div {1 << shift}").alias("j"),
        (F.col("h") % (1 << shift)).alias("rest"),
    )
    rho = (
        F.when(F.col("rest") == 0, F.lit(shift + 1))
        .otherwise(F.lit(shift + 1) - F.length(F.bin("rest")))
    )
    regs = parts.select("j", rho.alias("rho")).groupBy("j").agg(
        F.max("rho").alias("mj"))
    frame = df.sparkSession.range(m).select(F.col("id").alias("j"))
    full = frame.join(regs, "j", "left").select(
        F.coalesce("mj", F.lit(0)).alias("mj"))
    s = full.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 32 - mj)"))
        .cast("bigint").alias("sum_scaled"))
    exact = df.agg(F.countDistinct(F.col(col)).alias("exact_distinct"))
    amm = alpha * m * m
    return s.crossJoin(exact).select(
        F.lit(m).cast("bigint").alias("m"),
        "sum_scaled",
        F.round(
            F.lit(amm) / (F.col("sum_scaled").cast("double")
                          / F.lit(float(1 << 32))), 2).alias("est_distinct"),
        F.col("exact_distinct").cast("bigint"),
    )


def profile_columns(
    df: DataFrame, specs: list[tuple[str, "Column | None"]]
) -> DataFrame:
    """Data-profiling report — per column: row count, null count, EXACT
    distinct count, and numeric min/max (NULL for non-numeric columns).
    ``specs`` is [(column_name, numeric_expr_or_None)]; pass an expression
    (e.g. unix_micros(ts)) to profile a non-double column numerically.

    Returns (col, n, n_nulls, n_distinct, min_num, max_num).

    Scale shape: ONE aggregation pass over the scan computes every
    column's stats (count/sum/min/max all map-side combinable); the exact
    multi-column distinct is the one expensive piece — Spark expands the
    input once per distinct column — and is the knob to swap for
    approx_count_distinct at 100 TB, where exactness of a profile report
    rarely pays for its shuffle. The single result row explodes into the
    per-column report driver-side for free."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, num in specs:
        c = F.col(name)
        aggs.append(F.sum(c.isNull().cast("bigint")).alias(f"{name}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{name}__distinct"))
        mn = F.min(num) if num is not None else F.lit(None)
        mx = F.max(num) if num is not None else F.lit(None)
        aggs.append(mn.cast("double").alias(f"{name}__min"))
        aggs.append(mx.cast("double").alias(f"{name}__max"))
    row = df.agg(*aggs)
    entries = F.array(*[
        F.struct(
            F.lit(name).alias("col"),
            F.col(f"{name}__nulls").alias("n_nulls"),
            F.col(f"{name}__distinct").alias("n_distinct"),
            F.col(f"{name}__min").alias("min_num"),
            F.col(f"{name}__max").alias("max_num"),
        )
        for name, _ in specs
    ])
    return row.select(
        F.col("_n").alias("n"), F.explode(entries).alias("e")
    ).select(
        "e.col", "n", "e.n_nulls", "e.n_distinct", "e.min_num", "e.max_num")


def snapshot_diff(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Crawl snapshot diff: classify every document id across two corpus
    snapshots as added / removed / changed / unchanged by content hash —
    the delta report an incremental recrawl pipeline commits alongside the
    data, and the input to "process only what changed" scheduling.

    Returns (doc, status); content equality is sha256 over the raw text.

    Scale shape: each side reduces to (id, hash) in its scan projection
    (the text never reaches the join), then one full outer join keyed on
    the id — hash values ship as fixed 64-char strings. No other shuffle."""
    o = old.select(
        F.col(id_col).alias("doc"), F.sha2(F.col(text_col), 256).alias("oh"))
    n = new.select(
        F.col(id_col).alias("doc"), F.sha2(F.col(text_col), 256).alias("nh"))
    j = o.join(n, "doc", "full_outer")
    status = (
        F.when(F.col("oh").isNull(), "added")
        .when(F.col("nh").isNull(), "removed")
        .when(F.col("oh") == F.col("nh"), "unchanged")
        .otherwise("changed")
    )
    return j.select("doc", status.alias("status"))


def build_postings(
    df: DataFrame, id_col: str, text_col: str, max_postings: int = 16
) -> DataFrame:
    """Inverted-index posting lists: per term, document frequency and the
    ``max_postings`` smallest doc ids as a comma-joined string — the index
    report behind any term-lookup or BM25 layer.

    Scale shape: document frequency is a term-keyed count with map-side
    partials. The capped posting list is a per-term top-k window — the
    honest caveat is that stopword terms sort their full posting list
    inside one reducer; a full production index build is a
    repartitionByRange(term, doc) + sortWithinPartitions external sort,
    and this op's cap is the report shape, not the index itself."""
    base = _doc_words(df, id_col, text_col)
    t = base.select(
        F.explode(F.array_distinct("words")).alias("term"), "doc")
    dfreq = t.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("term").orderBy("doc")
    top = (
        t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_postings)
    )
    posts = top.groupBy("term").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "doc"))),
                lambda s: s["doc"].cast("string"),
            ),
        ).alias("postings")
    )
    return dfreq.join(posts, "term").select("term", "df", "postings")


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval for a fixed term set — the search-side
    consumer of the index stats (Robertson/Sparck-Jones idf with the +1
    floor, standard k1/b length normalization). Returns the top-k
    documents as (doc, score, rank); ties break on doc ascending.

    Cross-engine exactness: every input to the score is exact (integer tf,
    df, dl, N; avgdl one correctly-rounded division), the per-term scores
    combine in a FIXED expression order (one coalesce-sum chain, not an
    unordered SQL SUM), and the result rounds to 6 before ranking.

    Scale shape: the corpus is filtered to query terms BEFORE any shuffle
    (an isin over a literal list — a scan-fused filter), term stats are
    tiny aggregations, the per-doc pivot is one doc-keyed agg, and the
    final top-k is orderBy+limit (TakeOrdered — per-partition heaps, no
    global sort)."""
    base = _doc_words(df, id_col, text_col)
    docs = base.select("doc", F.size("words").cast("bigint").alias("dl"))
    totals = docs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    flat = base.select(
        "doc", F.explode("words").alias("w")
    ).filter(F.col("w").isin(list(terms)))
    tf = flat.groupBy("doc", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfq"))
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(docs, "doc")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc", "w",
            (
                F.log(
                    (F.col("n") - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf")
                   + k1 * (1 - b + (b * F.col("dl")) / F.col("avgdl")))
            ).alias("s"),
        )
    )
    per_term = [
        F.max(F.when(F.col("w") == t, F.col("s"))).alias(f"s{i}")
        for i, t in enumerate(terms)
    ]
    pivoted = scored.groupBy("doc").agg(*per_term)
    total = F.lit(0.0)
    for i in range(len(terms)):
        total = total + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    ranked = pivoted.select("doc", F.round(total, 6).alias("score"))
    top = ranked.orderBy(F.desc("score"), F.asc("doc")).limit(k)
    from pyspark.sql.window import Window

    rank = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc("doc"))).cast("bigint")
    return top.select("doc", "score", rank.alias("rank"))


def unigram_kl(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document KL divergence D(doc || corpus) over unigram
    distributions — the domain-shift / outlier signal that flags documents
    whose word usage diverges from the corpus (spam, wrong-language
    slips, machine gibberish) without any trained model.

    KL = sum_w p_doc(w) * ln(p_doc(w) / p_corpus(w)); since
    p_doc/p_corpus = (tf * T) / (dl * cf) is a ratio of exact integers,
    each distinct word contributes tf * round(ln((tf*T)/(dl*cf)) * 1e6)
    exact micro-nats, the per-doc SUM is integer (order-free), and the
    final value divides by dl once: round(sum / dl / 1e6, 6). Returns
    (doc, n_tokens, kl_micro, kl).

    Scale shape: identical to the bigram LM scorer — corpus frequencies
    are one word-keyed hash agg, the scoring join is keyed on the word
    (hot stopwords spread across reducers, AQE-splittable), and the
    per-doc reduction is one doc-keyed integer SUM."""
    base = _doc_words(df, id_col, text_col)
    flat = base.select("doc", F.explode("words").alias("w"))
    tf = flat.groupBy("doc", "w").agg(F.count(F.lit(1)).alias("tf"))
    cf = flat.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    tot = flat.agg(F.count(F.lit(1)).alias("t"))
    dl = base.select("doc", F.size("words").cast("bigint").alias("dl"))
    term = (F.col("tf") * F.round(
        F.log(
            (F.col("tf") * F.col("t")).cast("double")
            / (F.col("dl") * F.col("cf"))
        ) * 1000000
    ).cast("bigint"))
    per_doc = (
        tf.join(cf, "w")
        .join(dl, "doc")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc")
        .agg(F.sum(term).alias("kl_micro"))
    )
    return (
        dl.join(per_doc, "doc", "left")
        .select(
            "doc",
            F.col("dl").alias("n_tokens"),
            F.coalesce("kl_micro", F.lit(0)).cast("bigint").alias("kl_micro"),
            # no final ROUND: a 6-digit round of a float quotient is a
            # half-way coin flip across engines (observed at sf0.1); the
            # raw quotient of exact integers is bit-identical instead
            F.when(
                F.col("dl") > 0,
                F.col("kl_micro").cast("double") / F.col("dl") / 1000000.0,
            ).alias("kl"),
        )
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    frac: float = 0.1,
) -> DataFrame:
    """DSIR-style data selection: rank raw documents by unigram importance
    weights against a target slice and keep the top ``ceil(frac * N)``.

    Re-expresses the importance-resampling recipe of Xie et al. 2023
    ("Data Selection for Language Models via Importance Resampling") as a
    Spark plan: a unigram LM is fit to the target slice (rows where
    ``is_target``) and to the whole raw corpus, each with add-1 smoothing
    over the shared vocabulary, and every document scores
    ``log w(x) = sum_tokens ln(p_target(w) / p_raw(w))``. Selection is the
    deterministic top-k variant of the paper's Gumbel-noise resampling
    (ties broken by doc id) so the result is oracle-checkable.

    Integer-exactness: with V the vocabulary size, T_t / T_r the target /
    raw token totals and cf_t / cf_r the per-word counts, each distinct
    word contributes ``tf * round(ln((cf_t+1)*(T_r+V) /
    ((cf_r+1)*(T_t+V))) * 1e6)`` exact micro-nats (ln of a ratio of exact
    integers), so the per-doc SUM is an order-free integer. The integer
    products bound the corpus at ~2^63 token-pairs, the same documented
    envelope as ``unigram_kl``; past that, split the ln.

    Scale shape: one (doc, word)-keyed tf agg and one word-keyed corpus
    agg (both with map-side partials), the scoring join keyed on the word
    (hot stopwords spread across reducers, AQE-splittable), the 3-number
    totals broadcast, a doc-keyed integer SUM, and a distributed
    sort-limit (TakeOrdered) for the top-k — the rank window only ever
    sees the k selected rows, never the corpus.

    Returns (doc, n_tokens, logw_micro, rk) for the selected docs.
    """
    import math

    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__text"),
        is_target.cast("int").alias("is_t"),
    )
    words = _doc_words(base, "doc", "__text", keep=("is_t",))
    flat = words.select("doc", "is_t", F.explode("words").alias("w"))
    tf = flat.groupBy("doc", "w").agg(
        F.count(F.lit(1)).alias("tf"), F.max("is_t").alias("is_t"))
    ws = tf.groupBy("w").agg(
        F.sum("tf").alias("cf_r"),
        F.sum(F.when(F.col("is_t") == 1, F.col("tf")).otherwise(0)).alias("cf_t"),
    )
    tot = ws.agg(
        F.sum("cf_r").alias("tr"), F.sum("cf_t").alias("tt"),
        F.count(F.lit(1)).alias("v"))
    mic = F.round(
        F.log(
            ((F.col("cf_t") + 1) * (F.col("tr") + F.col("v"))).cast("double")
            / ((F.col("cf_r") + 1) * (F.col("tt") + F.col("v")))
        ) * 1000000
    ).cast("bigint")
    rated = ws.crossJoin(F.broadcast(tot)).select("w", mic.alias("mic"))
    per = (
        tf.join(rated, "w")
        .groupBy("doc")
        .agg(F.sum(F.col("tf") * F.col("mic")).alias("logw_micro"))
    )
    scored = (
        words.select("doc", F.size("words").cast("bigint").alias("n_tokens"))
        .join(per, "doc", "left")
        .select(
            "doc", "n_tokens",
            F.coalesce("logw_micro", F.lit(0)).cast("bigint").alias("logw_micro"),
        )
    )
    k = int(math.ceil(scored.count() * frac))
    top = scored.orderBy(F.desc("logw_micro"), F.asc("doc")).limit(k)
    w_rk = Window.orderBy(F.desc("logw_micro"), F.asc("doc"))
    return top.withColumn("rk", F.row_number().over(w_rk).cast("bigint"))


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: list[str] | None = None,
    min_words: int = 50,
    max_words: int = 100000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    min_alpha_frac: float = 0.80,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Table A1): word-count bounds, mean word
    length bounds, minimum fraction of words containing an alphabetic
    character, and a minimum stop-word count. Each rule is reported as its
    own flag next to the measured signal, plus the conjunctive ``keep``.

    The repetition rules of the same table live in
    :func:`repetition_stats`, and the line-level rules (bullet / ellipsis
    lines) in :func:`c4_filter` — this operator is the word-level slice.

    One zero-shuffle projection: every signal folds over the in-row word
    array with codegen'd HOFs; nothing leaves the scan stage.
    """
    if stopwords is None:
        from ocr_spark import config as C

        stopwords = list(C.STOPWORDS)
    base = _doc_words(df, id_col, text_col)
    n = F.size("words").cast("bigint")
    sum_len = F.aggregate(
        "words", F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w))
    n_alpha = F.size(F.filter("words", lambda w: w.rlike("[a-zA-Z]")))
    n_stop = F.size(F.filter("words", lambda w: w.isin(stopwords)))
    mean_wlen = F.when(n > 0, F.round(sum_len / n, 6))
    alpha_frac = F.when(n > 0, F.round(n_alpha / n, 6))
    out = base.select(
        "doc",
        n.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        alpha_frac.alias("alpha_frac"),
        n_stop.cast("bigint").alias("n_stop"),
    )
    p_wc = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    p_wl = (
        F.col("mean_wlen").isNotNull()
        & (F.col("mean_wlen") >= min_mean_wlen)
        & (F.col("mean_wlen") <= max_mean_wlen)
    )
    p_al = F.col("alpha_frac").isNotNull() & (
        F.col("alpha_frac") >= min_alpha_frac)
    p_st = F.col("n_stop") >= min_stopwords
    return out.select(
        "*",
        p_wc.alias("pass_word_count"),
        p_wl.alias("pass_mean_wlen"),
        p_al.alias("pass_alpha"),
        p_st.alias("pass_stopwords"),
        (p_wc & p_wl & p_al & p_st).alias("keep"),
    )


def c4_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level page cleaning (Raffel et al. 2020, §2.2): keep
    only lines that end in terminal punctuation (. ! ? ") and have at
    least ``min_words_per_line`` words; drop any line containing
    "javascript"; discard the whole page when it contains "lorem ipsum"
    or a curly brace, or when fewer than ``min_kept_lines`` lines
    survive. Returns (doc, n_lines, n_kept, keep, clean_text) with
    ``clean_text`` empty for discarded pages.

    One zero-shuffle projection: the split / per-line filters / rebuild
    are codegen'd array HOFs inside the scan stage — at corpus scale this
    pipelines with the parquet read, no exchange.
    """
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("t"))
    lines = F.split(F.col("t"), "\n")
    nw = lambda l: F.size(F.split(F.trim(l), r"\s+"))
    keep_line = lambda l: (
        l.rlike('[.!?"]$')
        & (nw(l) >= min_words_per_line)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    doc_bad = F.lower(F.col("t")).contains("lorem ipsum") | F.col(
        "t").contains("{")
    n_kept = F.size(kept).cast("bigint")
    keep = ~doc_bad & (n_kept >= min_kept_lines)
    return base.select(
        "doc",
        F.size(lines).cast("bigint").alias("n_lines"),
        n_kept.alias("n_kept"),
        keep.alias("keep"),
        F.when(keep, F.array_join(kept, "\n")).otherwise(F.lit("")).alias(
            "clean_text"),
    )


def _md5_mod(col: Column, salt: str, m: int) -> Column:
    """Deterministic uniform hash in [0, m): first 8 md5 hex chars of
    value:salt — the same engine-portable idiom as hll_distinct /
    sign-LSH (no platform RNG, no murmur seed drift)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(":" + salt))), 1, 8
            ), 16, 10,
        ).cast("bigint") % m
    )


def bloom_semijoin(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    m: int = 16384,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter semi-join pruning report: build a deterministic m-bit /
    k-hash Bloom filter from the dim-side keys, probe every fact row
    through it, and report the pruning quality against the exact semi-join
    — the runtime-filter pattern (Spark's own InjectRuntimeFilter /
    bloom_filter_agg) made engine-portable and oracle-checkable via
    md5-derived bit positions.

    Scale shape: the filter is the set of set bit positions — at most m
    rows however large the dim side is (the Bloom compression property),
    built by one explode + distinct and BROADCAST to the probe side; the
    probe is a key-keyed agg over distinct fact keys (k rows each) and one
    key-keyed join back to fact rows. No corpus-wide shuffle of the fact
    table beyond its own key agg; at 100 TB this is exactly the shape that
    skips shuffling the 99% of fact rows a dim filter will drop.

    Returns ONE row: (m, k, n_dim_keys, n_set_bits, n_fact, n_pass_bloom,
    n_true, n_false_pos, fp_rate) where fp_rate = false positives over the
    fact rows outside the true semi-join.
    """
    def positions(col: Column) -> Column:
        return F.array(*[_md5_mod(col, str(i), m) for i in range(1, k + 1)])

    dimk = dim.select(F.col(dim_key).alias("key")).distinct()
    bits = dimk.select(F.explode(positions(F.col("key"))).alias("p")).distinct()
    n_dim = dimk.agg(F.count(F.lit(1)).alias("n_dim_keys"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_set_bits"))

    fk = fact.select(F.col(fact_key).alias("key")).distinct()
    probe = fk.select("key", F.explode(positions(F.col("key"))).alias("p"))
    marked = probe.join(
        F.broadcast(bits.withColumn("hit", F.lit(1))), "p", "left")
    passk = marked.groupBy("key").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) == k).alias("bloom_pass"))
    flags = passk.join(
        dimk.withColumn("in_dim", F.lit(True)), "key", "left"
    ).select("key", "bloom_pass", F.coalesce("in_dim", F.lit(False)).alias("in_dim"))

    rows = fact.select(F.col(fact_key).alias("key")).join(flags, "key")
    agg = rows.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.col("bloom_pass").cast("bigint")).alias("n_pass_bloom"),
        F.sum(F.col("in_dim").cast("bigint")).alias("n_true"),
        F.sum((F.col("bloom_pass") & ~F.col("in_dim")).cast("bigint")).alias(
            "n_false_pos"),
    )
    return (
        agg.crossJoin(F.broadcast(n_dim))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.lit(m).cast("bigint").alias("m"),
            F.lit(k).cast("bigint").alias("k"),
            F.col("n_dim_keys").cast("bigint"),
            F.col("n_set_bits").cast("bigint"),
            F.col("n_fact").cast("bigint"),
            F.col("n_pass_bloom").cast("bigint"),
            F.col("n_true").cast("bigint"),
            F.col("n_false_pos").cast("bigint"),
            F.when(
                F.col("n_fact") > F.col("n_true"),
                F.round(
                    F.col("n_false_pos")
                    / (F.col("n_fact") - F.col("n_true")), 6),
            ).otherwise(F.lit(0.0)).alias("fp_rate"),
        )
    )


def cms_heavy_hitters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    d: int = 4,
    w: int = 1024,
    topn: int = 20,
) -> DataFrame:
    """Count-min sketch over the corpus word stream (Cormode &
    Muthukrishnan 2005): ``d`` md5-derived hash rows x ``w`` counters,
    point-estimate = MIN over rows — reported for the true top-``topn``
    words next to their exact counts, so the one-sided overestimate is
    visible. The mergeable frequency sketch beside hll_distinct
    (cardinality): at 100 TB the d*w-counter table is what you keep, the
    exact counts are the audit column you drop.

    Scale shape: exact counts and sketch counters are word- and
    (row, cell)-keyed hash aggs with map-side partials (the sketch agg
    output is bounded by d*w rows per partition — the merge property);
    the top-k is a distributed sort-limit; the estimate join fans the
    topn words by d and joins the tiny counter table broadcast.
    """
    from pyspark.sql.window import Window

    def cell_of(word: Column, i: Column) -> Column:
        out = _md5_mod(word, f"cms{d}", w)
        for j in range(d - 1, 0, -1):
            out = F.when(i == j, _md5_mod(word, f"cms{j}", w)).otherwise(out)
        return out

    hash_rows = F.explode(F.array(*[F.lit(i) for i in range(1, d + 1)]))
    flat = _doc_words(df, id_col, text_col).select(
        F.explode("words").alias("word"))
    truec = flat.groupBy("word").agg(F.count(F.lit(1)).alias("true_cnt"))

    occ = flat.select("word", hash_rows.alias("i"))
    sketch = (
        occ.select("i", cell_of(F.col("word"), F.col("i")).alias("cell"))
        .groupBy("i", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    top = truec.orderBy(F.desc("true_cnt"), F.asc("word")).limit(topn)
    wrk = Window.orderBy(F.desc("true_cnt"), F.asc("word"))
    top = top.withColumn("rk", F.row_number().over(wrk).cast("bigint"))
    probes = top.select("word", "true_cnt", "rk", hash_rows.alias("i"))
    probes = probes.withColumn(
        "cell", cell_of(F.col("word"), F.col("i")))
    est = (
        probes.join(F.broadcast(sketch), ["i", "cell"])
        .groupBy("word", "true_cnt", "rk")
        .agg(F.min("c").alias("est_cnt"))
    )
    return est.select(
        "word",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        F.col("est_cnt").cast("bigint").alias("est_cnt"),
        (F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias(
            "overcount"),
        "rk",
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution — the
    gibberish / encoding-garbage detector of a web-text quality pass (low
    entropy = repeated filler, high entropy = random bytes; natural text
    sits in a band).

    Exactness: with L the char count and c_i the count of char i,
    H = sum_i (c_i / L) * ln(L / c_i); each distinct char contributes
    ``c_i * round(ln(L / c_i) * 1e6)`` exact micro-nats (ln of a ratio of
    exact integers), the per-doc total is an order-free BIGINT, and the
    final value divides by L once.

    Scale shape: ZERO Exchange — a per-document statistic computed by
    sorting the in-row char array and folding one run-length scan in a
    single HOF aggregate (the repetition_stats pattern); it pipelines with
    the scan. Returns (doc, n_chars, h_micro, entropy).
    """
    t = F.trim(F.col(text_col))
    n = F.length(t)
    # sequence(1, 0) descends in Spark — the empty-doc guard is mandatory
    chars = F.when(n > 0, F.array_sort(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.substr(t, i, F.lit(1))))
    ).otherwise(F.array().cast("array<string>"))
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"), zero.alias("s"),
    )
    term = lambda run: run * F.round(
        F.log(n.cast("double") / run) * 1000000).cast("bigint")

    def step(acc: Column, x: Column) -> Column:
        is_run = x.eqNullSafe(acc["prev"])
        flushed = F.when(
            is_run | acc["prev"].isNull(), acc["s"]
        ).otherwise(acc["s"] + term(acc["run"]))
        run = F.when(is_run, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(x.alias("prev"), run.alias("run"), flushed.alias("s"))

    h_micro = F.aggregate(
        chars, init, step,
        lambda acc: F.when(
            acc["prev"].isNull(), acc["s"]).otherwise(acc["s"] + term(acc["run"])),
    )
    return df.select(
        F.col(id_col).alias("doc"),
        n.cast("bigint").alias("n_chars"),
        F.coalesce(h_micro, F.lit(0)).cast("bigint").alias("h_micro"),
        F.when(
            n > 0, h_micro.cast("double") / n / 1000000.0).alias("entropy"),
    )


def merge_upsert(
    old: DataFrame, new: DataFrame, key_col: str, payload_col: str
) -> DataFrame:
    """MERGE INTO semantics over two crawl snapshots (WHEN MATCHED AND
    changed THEN UPDATE / WHEN NOT MATCHED THEN INSERT; unmatched target
    rows are retained) — the warehouse upsert every incremental crawl
    lands with, reported per row: (key, action, content_hash) with action
    in {inserted, updated, unchanged, retained} and the hash of the
    surviving payload.

    Scale shape: payloads are hash-projected BEFORE the full outer join,
    so the join moves (key, 32-byte digest) rows only — text never
    shuffles; the join keys on the id (AQE-splittable). This is the same
    discipline as snapshot_diff, producing the merged table instead of
    the report.
    """
    oh = old.select(
        F.col(key_col).alias("k"), F.md5(F.col(payload_col)).alias("oh"))
    nh = new.select(
        F.col(key_col).alias("k"), F.md5(F.col(payload_col)).alias("nh"))
    j = oh.join(nh, "k", "full_outer")
    action = (
        F.when(F.col("oh").isNull(), F.lit("inserted"))
        .when(F.col("nh").isNull(), F.lit("retained"))
        .when(F.col("oh") == F.col("nh"), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return j.select(
        F.col("k").alias("doc"),
        action.alias("action"),
        F.coalesce("nh", "oh").alias("content_hash"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    k: int,
    salt: str = "aes",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): each row draws the md5-derived uniform
    u in (0, 1] and ranks by the key u^(1/w) — equivalently ln(u)/w, the
    form used here — and the k largest keys are the sample. Inclusion
    probability is proportional to weight, yet the draw is a pure
    function of (id, salt): reproducible across engines, retries, and
    partitionings, like stratified_sample but weight-proportional.

    The key is carried as round(ln(u)/w * 1e6) — u is an exact dyadic
    rational ((h+1)/2^32 from the first 8 md5 hex chars), so both engines
    compute ln on the same double and the rank order is stable. Rows with
    weight <= 0 never enter the sample.

    Scale shape: one zero-shuffle key projection + a distributed
    sort-limit (TakeOrdered); the rank window sees only the k winners.

    Returns (doc, weight, key_micro, rk).
    """
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
            1, 8),
        16, 10,
    ).cast("bigint")
    u = (h + 1).cast("double") / F.lit(float(1 << 32))
    w = weight.cast("double")
    key = F.round(F.log(u) / w * 1000000).cast("bigint")
    scored = df.select(
        F.col(id_col).alias("doc"),
        weight.cast("bigint").alias("weight"),
        F.when(w > 0, key).alias("key_micro"),
    ).filter(F.col("key_micro").isNotNull())
    top = scored.orderBy(F.desc("key_micro"), F.asc("doc")).limit(k)
    wr = Window.orderBy(F.desc("key_micro"), F.asc("doc"))
    return top.withColumn("rk", F.row_number().over(wr).cast("bigint"))


def blocklist_filter(
    df: DataFrame,
    id_col: str,
    url_col: str,
    blocklist: DataFrame,
    domain_col: str = "domain",
) -> DataFrame:
    """Domain-blocklist gate with parent-domain semantics (the first
    URL-level filter every web corpus runs — UT1/adult/malware lists):
    a page is blocked when its host equals a listed domain OR sits under
    one (host ends with '.' + domain), so listing example.org blocks
    cdn4.example.org but never notexample.org.

    Shape: the host (lowercased; IPv6 bracket literals stay one opaque
    label) expands into its dot-suffix chain (a.b.c -> [a.b.c, b.c, c]) —
    fan-out bounded by the label count (real hosts <= ~10 labels, never
    corpus-sized) — and the exploded suffixes hash-join the BROADCAST
    blocklist (thousands-to-millions of short strings, well inside the
    broadcast guard; dropping the hint degrades to a suffix-keyed shuffle
    join with identical results). Ancestor collisions collapse to
    MIN(domain) per doc through a map-side-combined agg whose exchange
    carries MATCHED docs only (block-rate-sized, typically <<1% of the
    corpus), and the verdict joins back on the id — AQE picks the
    strategy from the matched side's observed size.

    Returns (doc, host, blocked, matched_domain) for every input row.
    """
    base = df.select(
        F.col(id_col).alias("doc"), url_host(F.col(url_col)).alias("host"))
    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    sfx = base.select("doc", F.explode(suffixes).alias("sfx"))
    bl = blocklist.select(F.col(domain_col).alias("sfx")).distinct()
    matched = (
        sfx.join(F.broadcast(bl), "sfx")
        .groupBy("doc")
        .agg(F.min("sfx").alias("matched_domain"))
    )
    return base.join(matched, "doc", "left").select(
        "doc",
        "host",
        F.col("matched_domain").isNotNull().cast("int").alias("blocked"),
        "matched_domain",
    )


def url_path(url: Column) -> Column:
    """Path component of an absolute URL: first '/' after the authority up
    to (not including) the query/fragment; authority-only URLs normalize
    to '/'. The authority match ``[^/?#]*`` passes IPv6 bracket literals
    through unharmed (':' and brackets are not in the excluded set)."""
    p = F.regexp_extract(
        url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_gate(
    df: DataFrame,
    id_col: str,
    url_col: str,
    rules: DataFrame,
    host_col: str = "host",
    prefix_col: str = "path_prefix",
    allow_col: str = "allow",
) -> DataFrame:
    """RFC 9309 (robots.txt) longest-match gate: for each page, among the
    crawl's parsed Allow/Disallow path-prefix rules for its host, the rule
    with the LONGEST prefix that path-prefix-matches wins; equal-length
    ties go to Allow (RFC 9309 §2.2.2); no matching rule means allowed.

    Shape: the parsed rules table is a dimension (one row per
    (host, prefix, allow) — even a full-crawl robots corpus is millions of
    short rows, inside the broadcast guard), so candidates come from a
    BROADCAST equi-join on host with the prefix test as a residual — no
    corpus shuffle. The winner per doc is one map-side-combinable
    MAX(struct(prefix_len, allow, prefix)) whose lexicographic order IS
    the RFC precedence (longer prefix first, Allow breaks length ties);
    its exchange carries only docs that matched >= 1 rule. The verdict
    joins back on the id, AQE choosing the strategy from the matched
    side's observed size.

    Returns (doc, host, path, allowed, matched_prefix) for every input
    row; matched_prefix is NULL where no rule applied.
    """
    base = df.select(
        F.col(id_col).alias("doc"),
        url_host(F.col(url_col)).alias("host"),
        url_path(F.col(url_col)).alias("path"),
    )
    r = rules.select(
        F.col(host_col).alias("host"),
        F.col(prefix_col).alias("prefix"),
        F.col(allow_col).cast("int").alias("allow"),
    ).distinct()
    winner = (
        base.join(F.broadcast(r), "host")
        .where(F.col("path").startswith(F.col("prefix")))
        .groupBy("doc")
        .agg(F.max(F.struct(
            F.length("prefix").alias("l"),
            F.col("allow").alias("a"),
            F.col("prefix").alias("p"))).alias("w"))
    )
    return base.join(winner, "doc", "left").select(
        "doc",
        "host",
        "path",
        F.coalesce(F.col("w.a"), F.lit(1)).cast("int").alias("allowed"),
        F.col("w.p").alias("matched_prefix"),
    )


# UTF-8 bytes re-decoded as cp1252 — the classic double-encoding mojibake a
# web crawl accumulates. Printable-sequence subset only (sequences whose
# cp1252 rendering contains C1 controls, e.g. U+201D -> 0x9d, can't round-trip
# as literal strings and are left alone). ORDER MATTERS: 3-byte sequences
# first, or the 'Ã/â' 2-byte fixes would eat their lead bytes. Both engines
# consume this same table, so the repair is cross-engine identical by
# construction.
MOJIBAKE_MAP: list[tuple[str, str]] = [
    ("â€™", "’"),  # â€™ -> ’
    ("â€˜", "‘"),  # â€˜ -> ‘
    ("â€œ", "“"),  # â€œ -> “
    ("â€“", "–"),  # â€“ -> –
    ("â€”", "—"),  # â€” -> —
    ("â€¦", "…"),  # â€¦ -> …
    ("â€¢", "•"),  # â€¢ -> •
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¡", "á"),  # Ã¡ -> á
    ("Ã³", "ó"),  # Ã³ -> ó
    ("Ãº", "ú"),  # Ãº -> ú
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã¤", "ä"),  # Ã¤ -> ä
    ("Ã§", "ç"),  # Ã§ -> ç
    ("ÃŸ", "ß"),  # ÃŸ -> ß
    ("Â«", "«"),  # Â« -> «
    ("Â»", "»"),  # Â» -> »
    ("Â°", "°"),  # Â° -> °
    ("Â·", "·"),  # Â· -> ·
    ("Â¿", "¿"),  # Â¿ -> ¿
    ("Â¡", "¡"),  # Â¡ -> ¡
]

# Lead bytes of every mapped sequence, as one translate() alphabet.
MOJIBAKE_MARKERS = "ÃÂâ"


def _marker_count(text: Column) -> Column:
    """Occurrences of mojibake lead characters (Ã Â â) in ``text`` —
    length-minus-translate, one codegen'd expression, no regex."""
    return (
        F.length(text)
        - F.length(F.translate(text, MOJIBAKE_MARKERS, ""))
    ).cast("bigint")


def fix_mojibake(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Repair UTF-8-read-as-cp1252 mojibake (ftfy's most common case) via
    a fixed longest-first literal replacement chain, and report how
    suspect each document looked before and after: (doc, n_suspect,
    n_residual, fixed). n_residual > 0 flags sequences outside the mapped
    table (or legitimate Ã/Â/â usage) for a human eye.

    Pure zero-shuffle projection — a chain of literal replace() calls (no
    regex) fused into the scan; at 100 TB it pipelines with the parquet
    read like clean_text does."""
    text = F.col(text_col)
    fixed = text
    for bad, good in MOJIBAKE_MAP:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return df.select(
        F.col(id_col).alias("doc"),
        _marker_count(text).alias("n_suspect"),
        _marker_count(fixed).alias("n_residual"),
        fixed.alias("fixed"),
    )


def host_cap(
    df: DataFrame,
    id_col: str,
    url_col: str,
    quality: Column,
    k: int,
    n_shards: int = 16,
) -> DataFrame:
    """Per-host document quota (the C4-style per-domain cap that stops
    mega-hosts from dominating a corpus): keep at most ``k`` documents per
    host, best-``quality`` first, ties to the lowest id.

    Skew shape: a plain per-host window puts a 10^8-doc host on ONE
    reducer. The cap runs in two stages instead — stage 1 ranks within
    (host, shard) where shard = md5(id) % n_shards, bounding any task to a
    1/n_shards slice of the hottest host, and keeps each shard's top k;
    stage 2 ranks the <= n_shards*k survivors per host. Exact: every
    global top-k row is inside its shard's top-k, so stage 1 never drops
    a winner (the oracle pins this with a single-window twin).

    Returns kept rows only: (doc, host, quality, rk) with rk <= k.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("doc"),
        url_host(F.col(url_col)).alias("host"),
        quality.cast("bigint").alias("quality"),
    )
    shard = _md5_mod(F.col("doc").cast("string"), "hostcap", n_shards)
    order = [F.desc("quality"), F.asc("doc")]
    w1 = Window.partitionBy("host", "shard").orderBy(*order)
    w2 = Window.partitionBy("host").orderBy(*order)
    survivors = (
        base.withColumn("shard", shard)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
    )
    return (
        survivors.withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("doc", "host", "quality", "rk")
    )


# Meta-robots detection: the tag whose name attribute is robots or
# googlebot, in either attribute order, any case. RE2/Java-common.
_META_ROBOTS_RE = r'(?i)<meta\b[^>]*name\s*=\s*"(?:robots|googlebot)"[^>]*>'


def noindex_filter(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Robots-meta gate (the crawl-side exclusion every corpus must honor):
    flag documents whose HTML carries <meta name="robots"|"googlebot" ...>
    with noindex / nofollow directives, attribute order and case free.

    Two codegen'd regexes, zero shuffle: extract the first matching meta
    tag, then test the directives inside that tag only (a 'noindex' in
    body text never triggers). Fuses into the scan at any scale."""
    tag = F.regexp_extract(F.col(html_col), _META_ROBOTS_RE, 0)
    return df.select(
        F.col(id_col).alias("doc"),
        tag.rlike(r"(?i)\bnoindex\b").cast("int").alias("noindex"),
        tag.rlike(r"(?i)\bnofollow\b").cast("int").alias("nofollow"),
    )


ANCHOR_TAG_RE = r'<a\s[^>]*href="[^"]*"[^>]*>[^<]*</a>'


def anchor_texts(
    df: DataFrame,
    id_col: str,
    html_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Anchor-text aggregation per link target — the classic web-corpus
    side-product (anchor text describes the TARGET page; search and
    query-document training data are built from it). Extracts absolute-URL
    ``<a href>`` links, then per target: total in-links, distinct linking
    docs, distinct anchor phrasings, and the top_k most frequent anchor
    texts (count desc, text asc) joined with '|'.

    Shape: tag extraction is a codegen'd regexp projection; the explode
    fans out by links-per-page (bounded by page size, never corpus-sized).
    The top-k never materializes a mega-target's full anchor set in one
    agg buffer: counts reduce on (target, anchor) with map-side partials
    first, a window ranks each target's DISTINCT anchors (rows = distinct
    phrasings, tiny vs in-link count), and only the <= top_k survivors
    reach the final per-target agg — a homepage with 10^8 in-links costs
    its distinct-anchor count, not its in-link count, in state.
    """
    from pyspark.sql.window import Window

    tags = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.regexp_extract_all(
                F.col(html_col), F.lit(ANCHOR_TAG_RE), F.lit(0))
        ).alias("tag"),
    )
    links = tags.select(
        "doc",
        F.regexp_extract("tag", r'href="([^"]*)"', 1).alias("target"),
        F.trim(F.regexp_extract("tag", r">([^<]*)</a>", 1)).alias("anchor"),
    ).where(F.col("target").rlike(r"^https?://"))

    per_anchor = links.groupBy("target", "anchor").agg(
        F.count(F.lit(1)).alias("cnt"),
        # distinct docs counted exactly at the (target, anchor) grain and
        # summed is WRONG (a doc may use two phrasings) — carry doc sets no
        # further than this grain; the distinct-doc count reduces from the
        # links relation directly below.
    )
    w = Window.partitionBy("target").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc())
    top = (
        per_anchor.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .groupBy("target")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        (-F.col("cnt")).alias("negc"),
                        F.col("anchor").alias("a")))),
                    lambda s: s["a"],
                ),
                "|",
            ).alias("top_anchors"),
        )
    )
    stats = links.groupBy("target").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc").alias("n_docs"),
        F.countDistinct("anchor").alias("n_anchor_texts"),
    )
    return stats.join(top, "target", "left").select(
        "target", "n_links", "n_docs", "n_anchor_texts",
        F.coalesce("top_anchors", F.lit("")).alias("top_anchors"),
    )


# Head-metadata patterns. Attribute order is free in real pages, so paired
# attributes (name/content, rel/href, property/content) each get two
# patterns and the first non-empty extraction wins. Dialect-common:
# (?i)/(?is) flags, no lookaround (RE2 has none).
_TITLE_RE = r"(?i)<title[^>]*>([^<]*)</title>"
_HTML_LANG_RE = r'(?i)<html\s[^>]*lang\s*=\s*"([^"]*)"'
_CHARSET_RE = r'(?i)<meta\s[^>]*charset\s*=\s*"?([A-Za-z0-9_-]+)'


def _paired_attr(html: Column, tag: str, key_attr: str, key: str,
                 val_attr: str) -> Column:
    """First non-empty extraction of ``val_attr`` from a ``tag`` whose
    ``key_attr`` equals ``key``, in either attribute order."""
    fwd = (rf'(?i)<{tag}\s[^>]*{key_attr}\s*=\s*"{key}"'
           rf'[^>]*{val_attr}\s*=\s*"([^"]*)"')
    rev = (rf'(?i)<{tag}\s[^>]*{val_attr}\s*=\s*"([^"]*)"'
           rf'[^>]*{key_attr}\s*=\s*"{key}"')
    a = F.regexp_extract(html, fwd, 1)
    return F.when(a != "", a).otherwise(F.regexp_extract(html, rev, 1))


def page_metadata(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Head-metadata extraction — the per-page sidecar every web corpus
    ships next to the main text (title, meta description, og:title,
    canonical URL, declared charset, html lang).

    Pure codegen'd regexp projection: zero shuffle, fuses into the scan,
    prunes ``html`` immediately after — at corpus scale this runs at
    parquet-read speed. Missing fields come back as '' (not NULL) so the
    schema is total. Titles are whitespace-collapsed and trimmed; charset
    and lang are lowercased per the WHATWG ASCII-case-insensitive rule."""
    html = F.col(html_col)
    title = F.trim(F.regexp_replace(
        F.regexp_extract(html, _TITLE_RE, 1), r"\s+", " "))
    return df.select(
        F.col(id_col).alias("doc"),
        title.alias("title"),
        _paired_attr(html, "meta", "name", "description", "content")
        .alias("description"),
        _paired_attr(html, "meta", "property", "og:title", "content")
        .alias("og_title"),
        _paired_attr(html, "link", "rel", "canonical", "href")
        .alias("canonical"),
        F.lower(F.regexp_extract(html, _CHARSET_RE, 1)).alias("charset"),
        F.lower(F.regexp_extract(html, _HTML_LANG_RE, 1)).alias("lang"),
    )


_TABLE_RE = r"(?is)<table[^>]*>(.*?)</table>"
_TR_RE = r"(?is)<tr[^>]*>(.*?)</tr>"
_CELL_RE = r"(?is)<t[dh][^>]*>.*?</t[dh]>"


def html_tables(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """HTML table extraction — flatten every (non-nested) ``<table>`` into
    (doc, tbl, row, col, is_header, cell) with document-order ordinals,
    inner markup stripped, cell text trimmed.

    Shape: three chained posexplodes, each a NARROW per-row fan-out bounded
    by the page's own table/row/cell counts — no shuffle anywhere, the
    whole op fuses into the scan stage and ``html`` never leaves it.
    Nested tables are out of scope for the regexp path (the inner table's
    cells surface under the outer table's row); a DOM-tree parse belongs
    to the stage-A mapInArrow extractor, not this flattener."""
    tables = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.regexp_extract_all(
            F.col(html_col), F.lit(_TABLE_RE), F.lit(1))).alias("tbl", "thtml"),
    )
    rows = tables.select(
        "doc", "tbl",
        F.posexplode(F.regexp_extract_all(
            "thtml", F.lit(_TR_RE), F.lit(1))).alias("row", "rhtml"),
    )
    cells = rows.select(
        "doc", "tbl", "row",
        F.posexplode(F.regexp_extract_all(
            "rhtml", F.lit(_CELL_RE), F.lit(0))).alias("col", "ctag"),
    )
    return cells.select(
        "doc",
        F.col("tbl").cast("bigint").alias("tbl"),
        F.col("row").cast("bigint").alias("row"),
        F.col("col").cast("bigint").alias("col"),
        F.col("ctag").rlike("(?i)^<th").cast("int").alias("is_header"),
        F.trim(F.regexp_replace("ctag", "<[^>]*>", "")).alias("cell"),
    )


def host_template_lines(
    df: DataFrame, id_col: str, url_col: str, text_col: str,
    min_frac_bp: int = 5000, min_docs: int = 2,
) -> DataFrame:
    """Host-scoped template-line detection — the site-level complement of
    corpus-wide line_dedup: a line is a TEMPLATE for host H when its
    normalized form (lowercased, trimmed) appears in >= min_docs of H's
    documents and in >= min_frac_bp basis points of them. Navigation
    chrome and footers repeat within a site long before they repeat
    corpus-wide; this finds them at the grain a crawler actually needs.

    Returns template rows only: (host, line, n_docs_line, n_docs_host,
    frac_bp). The fraction test is exact integer arithmetic
    (n_line * 10000 >= min_frac_bp * n_host), no float division.

    Scale shape: within-doc de-dup of a line's contribution is a row-local
    distinct on (host, doc, line); the frequency count shuffles on
    (host, line) with map-side partials; host doc counts shuffle on host;
    the final join is keyed on host — hot mega-hosts are exactly the keys
    AQE skew splitting divides, and the emitted relation holds only
    template survivors, never every distinct line of the corpus."""
    base = df.select(
        F.col(id_col).alias("doc"),
        url_host(F.col(url_col)).alias("host"),
        F.col(text_col).alias("text"),
    )
    norm = F.lower(F.trim(F.col("line")))
    per = (
        base.select("host", "doc",
                    F.explode(F.split("text", "\n")).alias("line"))
        .select("host", "doc", norm.alias("line"))
        .filter(F.col("line") != "")
        .distinct()
    )
    line_cnt = per.groupBy("host", "line").agg(
        F.count(F.lit(1)).alias("n_docs_line"))
    host_cnt = base.select("host", "doc").distinct().groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs_host"))
    return (
        line_cnt.join(host_cnt, "host")
        .filter(
            (F.col("n_docs_line") >= min_docs)
            & (F.col("n_docs_line") * 10000
               >= F.lit(min_frac_bp) * F.col("n_docs_host")))
        .select(
            "host", "line",
            F.col("n_docs_line").cast("bigint").alias("n_docs_line"),
            F.col("n_docs_host").cast("bigint").alias("n_docs_host"),
            F.floor(F.col("n_docs_line") * 10000 / F.col("n_docs_host"))
            .cast("bigint").alias("frac_bp"),
        )
    )


def dup_span_removal(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, min_docs: int = 2,
) -> DataFrame:
    """Corpus-duplicated span removal — the word-level analog of
    suffix-array substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): every word position covered by an
    n-gram that occurs in >= min_docs distinct documents is removed, and
    each document is rebuilt from its surviving words in original order.
    Catches licence blocks, share-bars, and quoted boilerplate that
    document-level dedup can't touch.

    Returns (doc, n_words, n_removed, clean_text) for every input doc.

    Scale shape: grams come from the zip_with shingle build (row-local, no
    window); the document-frequency count is keyed on md5(gram) — a fixed
    32-byte key with map-side partials, so hot boilerplate grams ship as
    hashes and AQE skew-splitting divides them; the covered-position
    explode fans out exactly n per duplicated gram occurrence; the rebuild
    is one doc-keyed shuffle whose array_sort makes the output order-exact
    at any parallelism."""
    base = df.select(
        F.col(id_col).alias("doc"),
        F.when(F.length(F.trim(F.col(text_col))) > 0,
               F.split(F.trim(F.col(text_col)), r"\s+"))
        .otherwise(F.array().cast("array<string>")).alias("words"),
    )
    words = base.select(
        "doc", F.posexplode("words").alias("pos", "word"))
    m = F.size(F.col("words")) - (n - 1)
    z = F.slice("words", 1, m)
    for j in range(1, n):
        z = F.zip_with(z, F.slice("words", j + 1, m),
                       lambda a, b: F.concat_ws(" ", a, b))
    # CASE short-circuits per row, so the negative-length slice of a
    # sub-n-word doc is never evaluated (ANSI mode errors on it otherwise).
    z = F.when(F.size("words") >= n, z).otherwise(
        F.array().cast("array<string>"))
    grams = base.select(
        "doc", F.posexplode(z).alias("gpos", "gram")
    ).select("doc", "gpos", F.md5("gram").alias("h"))
    dup = (
        grams.select("doc", "h").distinct()
        .groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") >= min_docs)
        .select("h")
    )
    covered = (
        grams.join(dup, "h")
        .select("doc", F.explode(
            F.sequence(F.col("gpos"), F.col("gpos") + (n - 1))).alias("pos"))
        .distinct()
    )
    kept = words.join(covered, ["doc", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("doc", F.size("words").cast("bigint").alias("n_words"))
        .join(rebuilt, "doc", "left")
        .select(
            "doc", "n_words",
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


_HEADING_RE = r"(?is)<h([1-6])[^>]*>(.*?)</h[1-6]>"


def html_headings(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Document-outline extraction: every <h1>..<h6> in document order as
    (doc, pos, level, heading) — inner markup stripped, whitespace
    collapsed. The outline is the skeleton section-segmentation and
    title-hierarchy features build on.

    Zero shuffle: one regexp_extract_all + posexplode (fan-out = headings
    per page) with the level re-extracted from the matched tag — all
    codegen'd, html pruned in-stage."""
    hs = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.regexp_extract_all(
            F.col(html_col), F.lit(_HEADING_RE), F.lit(0))).alias("pos", "tag"),
    )
    return hs.select(
        "doc",
        F.col("pos").cast("bigint").alias("pos"),
        F.regexp_extract("tag", r"(?i)^<h([1-6])", 1).cast("int")
        .alias("level"),
        F.trim(F.regexp_replace(
            F.regexp_replace("tag", r"<[^>]*>", ""), r"\s+", " "))
        .alias("heading"),
    )


_TAG_STREAM_RE = r"(?s)</?[a-zA-Z][a-zA-Z0-9]*[^>]*>"
_NON_NESTING_RE = (r"(?i)^<(br|hr|img|meta|link|input|area|base|col|embed"
                   r"|source|track|wbr)\b|/>$")


def html_depth_stats(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """DOM nesting statistics without a DOM: stream the tags, fold +1/-1
    over opens/closes (void and self-closing elements excluded), report
    (doc, n_tags, max_depth, balance). Deeply-nested markup is a spam /
    machine-generated-page signal; balance != 0 flags truncated or
    malformed documents before they reach the extractor.

    Zero shuffle: the tag stream is regexp_extract_all, the running
    maximum is a row-local F.aggregate fold over the delta array — no
    window, no per-doc shuffle, the whole op fuses into the scan."""
    tags = F.filter(
        F.regexp_extract_all(F.col(html_col), F.lit(_TAG_STREAM_RE), F.lit(0)),
        lambda t: ~t.rlike(_NON_NESTING_RE),
    )
    deltas = F.transform(
        tags, lambda t: F.when(t.startswith("</"), F.lit(-1)).otherwise(F.lit(1)))
    acc = F.aggregate(
        deltas,
        F.struct(F.lit(0).alias("d"), F.lit(0).alias("m")),
        lambda a, x: F.struct(
            (a["d"] + x).alias("d"),
            F.greatest(a["m"], a["d"] + x).alias("m")),
    )
    return df.select(
        F.col(id_col).alias("doc"),
        F.size(tags).cast("bigint").alias("n_tags"),
        acc["m"].cast("bigint").alias("max_depth"),
        acc["d"].cast("bigint").alias("balance"),
    )


def crawl_gate(
    df: DataFrame, id_col: str, url_col: str, html_col: str,
    rules: DataFrame, blocklist: DataFrame,
) -> DataFrame:
    """The composed page-admission decision every crawl-derived corpus
    runs before any content processing: RFC 9309 robots longest-match,
    then robots-meta noindex, then the domain blocklist — first failing
    gate wins (robots_disallow > meta_noindex > blocked_domain > keep).

    Returns (doc, reason, keep) for every input row.

    Shape: each sub-gate is its own scale-correct plan (two broadcast
    dimension joins + one zero-shuffle regexp projection); the composition
    is two doc-keyed equi-joins on relations that are already one row per
    doc. No gate short-circuits another's WORK (all three evaluate — at
    corpus scale the projections are scan-fused and the dim joins
    broadcast, so evaluating all three costs less than materializing an
    intermediate keep-set between them), only the REASON precedence."""
    rg = robots_gate(df, id_col, url_col, rules).select("doc", "allowed")
    nf = noindex_filter(df, id_col, html_col).select("doc", "noindex")
    bf = blocklist_filter(df, id_col, url_col, blocklist).select(
        "doc", "blocked")
    reason = (
        F.when(F.col("allowed") == 0, F.lit("robots_disallow"))
        .when(F.col("noindex") == 1, F.lit("meta_noindex"))
        .when(F.col("blocked") == 1, F.lit("blocked_domain"))
        .otherwise(F.lit("keep"))
    )
    return (
        rg.join(nf, "doc").join(bf, "doc")
        .select("doc", reason.alias("reason"),
                (reason == "keep").cast("int").alias("keep"))
    )


def parse_robots(df: DataFrame, host_col: str, body_col: str) -> DataFrame:
    """robots.txt parsing — the upstream of :func:`robots_gate`: turn raw
    robots.txt bodies into the (host, path_prefix, allow) rules dimension
    for the default agent. RFC 9309 grouping: consecutive User-agent
    lines open ONE group; a group's rules apply to '*' if any of its
    User-agent lines is '*'; Allow/Disallow lines outside any group are
    ignored; empty-path Disallow (allow-all idiom) is dropped; matching
    is case-insensitive on directive names, comments strip at '#'.

    Returns (host, path_prefix, allow) distinct rules.

    Shape: one posexplode (fan-out = lines per robots.txt, ~10^2), then
    the group id is a per-host running sum over the line window — a
    host-keyed shuffle of SHORT rule lines only (bodies prune in-stage);
    a robots corpus is dimension-sized (one row per host), so even the
    window partition is tiny. Star-group membership joins back on
    (host, grp)."""
    from pyspark.sql.window import Window

    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), "\n")).alias("pos", "raw"),
    ).select(
        "host", "pos",
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    )
    is_ua = F.lower(F.col("line")).startswith("user-agent:")
    w = Window.partitionBy("host").orderBy("pos")
    grouped = (
        lines
        .withColumn("is_ua", is_ua.cast("int"))
        .withColumn("prev_ua", F.coalesce(
            F.lag("is_ua").over(w), F.lit(0)))
        .withColumn("grp", F.sum(
            ((F.col("is_ua") == 1) & (F.col("prev_ua") == 0)).cast("int")
        ).over(w))
    )
    star = (
        grouped.filter(
            (F.col("is_ua") == 1)
            & (F.trim(F.expr("substring(line, 12)")) == "*"))
        .select("host", "grp").distinct()
    )
    directive = F.lower(F.regexp_extract("line", r"^([A-Za-z-]+):", 1))
    path = F.trim(F.regexp_extract("line", r"^[A-Za-z-]+:(.*)$", 1))
    rules = (
        grouped.filter(F.col("is_ua") == 0)
        .select("host", "grp", directive.alias("d"), path.alias("p"))
        .filter(F.col("d").isin("allow", "disallow") & (F.col("p") != ""))
    )
    return (
        rules.join(star, ["host", "grp"])
        .select(
            "host",
            F.col("p").alias("path_prefix"),
            (F.col("d") == "allow").cast("int").alias("allow"),
        )
        .distinct()
    )


def host_quality_trend(
    df: DataFrame, host_col: str, day_col: str, quality_col: str,
    window_days: int = 3,
) -> DataFrame:
    """Per-host quality time series — the crawl-health dashboard primitive:
    daily doc counts and mean quality per host, plus a trailing
    ``window_days``-day moving average that is GAP-AWARE (a RANGE frame
    over the day ordinal, so a host crawled on days {1, 9} never averages
    across the eight silent days).

    Quality is an integer 0-100 score; means are exact basis points via
    integer division (sum*100 div n), so the moving average is
    bit-identical cross-engine. Returns (host, day, n_docs, mean_bp,
    ma_bp).

    Shape: one hash agg keyed on (host, day) with map-side partials
    collapses the corpus to series-size; the window then runs over the
    tiny per-host series, not over documents — a mega-host costs its
    distinct-day count in window state, not its doc count."""
    from pyspark.sql.window import Window

    daily = (
        df.select(
            F.col(host_col).alias("host"),
            F.col(day_col).cast("bigint").alias("day"),
            F.col(quality_col).cast("bigint").alias("q"),
        )
        .groupBy("host", "day")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("q").alias("sum_q"))
    )
    w = (Window.partitionBy("host").orderBy("day")
         .rangeBetween(-(window_days - 1), 0))
    return daily.select(
        "host", "day",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.expr("(sum_q * 100) div n_docs").cast("bigint").alias("mean_bp"),
        (F.sum("sum_q").over(w) * 100)
        .cast("bigint").alias("_wsum"),
        F.sum("n_docs").over(w).cast("bigint").alias("_wn"),
    ).select(
        "host", "day", "n_docs", "mean_bp",
        F.expr("_wsum div _wn").cast("bigint").alias("ma_bp"),
    )


_JSONLD_RE = r'(?is)<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>'


def jsonld_extract(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Structured-data extraction: pull the first JSON-LD block
    (<script type="application/ld+json">) and project schema.org article
    fields — headline, datePublished, author.name (a nested path). The
    machine-readable metadata publishers ship is the highest-precision
    extraction signal a page carries.

    Zero shuffle: one regexp extraction + three get_json_object
    projections, all codegen'd; malformed or absent JSON degrades to ''
    per field (get_json_object returns NULL on bad JSON — no job-killing
    parse errors at corpus scale). html prunes in-stage."""
    js = F.regexp_extract(F.col(html_col), _JSONLD_RE, 1)
    return df.select(
        F.col(id_col).alias("doc"),
        (js != "").cast("int").alias("has_jsonld"),
        F.coalesce(F.get_json_object(js, "$.headline"), F.lit(""))
        .alias("headline"),
        F.coalesce(F.get_json_object(js, "$.datePublished"), F.lit(""))
        .alias("date_published"),
        F.coalesce(F.get_json_object(js, "$.author.name"), F.lit(""))
        .alias("author_name"),
    )


_SITEMAP_URL_BLOCK_RE = r"(?is)<url>(.*?)</url>"
_SITEMAP_IDX_BLOCK_RE = r"(?is)<sitemap>(.*?)</sitemap>"
_SITEMAP_LOC_RE = r"(?is)<loc>\s*(.*?)\s*</loc>"
_SITEMAP_LASTMOD_RE = r"(?is)<lastmod>\s*(.*?)\s*</lastmod>"
_SITEMAP_PRI_RE = r"(?is)<priority>\s*(.*?)\s*</priority>"


def sitemap_parse(df: DataFrame, host_col: str, xml_col: str) -> DataFrame:
    """Sitemap-protocol parsing (sitemaps.org): explode a <urlset> into
    (host, pos, kind, loc, lastmod, priority) rows, one per <url> entry in
    document order; <sitemapindex> files explode their <sitemap> child
    blocks instead (kind='index'), which is how a crawler walks the
    50k-URL-per-file sharding the protocol mandates. The URL-discovery
    complement to robots.txt parsing (parse_robots): together they are
    the crawl frontier's two standard host-published inputs.

    Zero shuffle: root sniff + regexp_extract_all + posexplode + three
    per-block extractions, all fused into the scan projection; the xml
    body never crosses an Exchange. Missing <lastmod>/<priority> degrade
    to '' (most sitemaps omit them); malformed XML yields zero rows for
    the host rather than an error — at corpus scale sitemap files are as
    dirty as any crawled bytes.
    """
    xml = F.col(xml_col)
    kind = F.when(
        xml.rlike(r"(?is)<\s*sitemapindex[\s>]"), F.lit("index")
    ).otherwise(F.lit("urlset"))
    blocks = F.when(
        kind == "index",
        F.regexp_extract_all(xml, F.lit(_SITEMAP_IDX_BLOCK_RE), F.lit(1)),
    ).otherwise(
        F.regexp_extract_all(xml, F.lit(_SITEMAP_URL_BLOCK_RE), F.lit(1))
    )
    exploded = df.select(
        F.col(host_col).alias("host"), kind.alias("kind"),
        F.posexplode(blocks).alias("pos", "block"),
    )
    return exploded.select(
        "host",
        "pos",
        "kind",
        F.regexp_extract("block", _SITEMAP_LOC_RE, 1).alias("loc"),
        F.regexp_extract("block", _SITEMAP_LASTMOD_RE, 1).alias("lastmod"),
        F.regexp_extract("block", _SITEMAP_PRI_RE, 1).alias("priority"),
    ).where(F.col("loc") != "")


# BOM hex prefixes, longest-first so UTF-8's 3-byte mark wins over the
# UTF-16 2-byte marks it does not share. (UTF-32 BOMs collide with
# UTF-16LE's prefix; at web scale UTF-32 is effectively absent and the
# WHATWG encoding sniff likewise checks only these three.)
_BOM_SIGNATURES = [
    ("utf-8", "EFBBBF"),
    ("utf-16be", "FEFF"),
    ("utf-16le", "FFFE"),
]

# WHATWG encoding-label normalization for the declared names web pages
# actually carry; iso-8859-1/latin1/ascii map to windows-1252 because
# that is how every browser decodes them (the spec's single most
# load-bearing alias).
_CHARSET_ALIASES = {
    "utf8": "utf-8",
    "utf-8": "utf-8",
    "iso-8859-1": "windows-1252",
    "latin1": "windows-1252",
    "latin-1": "windows-1252",
    "us-ascii": "windows-1252",
    "ascii": "windows-1252",
    "windows-1252": "windows-1252",
    "cp1252": "windows-1252",
}

_META_CONTENT_CHARSET_RE = (
    r'(?is)<meta\s[^>]*content\s*=\s*"[^"]*charset=([A-Za-z0-9_-]+)')


def charset_detect(
    df: DataFrame, id_col: str, payload_col: str, html_col: str
) -> DataFrame:
    """WHATWG-style encoding sniff: byte-order mark (authoritative — the
    spec says a BOM overrides any declaration) else the in-document
    declaration (<meta charset=...> or the legacy http-equiv
    content="text/html; charset=..."), normalized through the WHATWG
    alias table, else the utf-8 default. The decode-dispatch column an
    ingestion stage computes before any text extraction touches the
    bytes — mojibake at corpus scale is mostly charset mis-dispatch.

    Emits (doc, bom, declared, charset): bom/declared as evidence
    columns ('' when absent), charset as the decision. Zero shuffle —
    one hex-prefix CASE over the first bytes plus two regexps, fused
    into the scan; the payload is pruned immediately after.
    """
    hx = F.upper(F.hex(F.substring(F.col(payload_col), 1, 3)))
    bom = F.lit("")
    for name, sig in reversed(_BOM_SIGNATURES):
        bom = F.when(hx.startswith(sig), F.lit(name)).otherwise(bom)
    raw_declared = F.lower(
        F.coalesce(
            F.nullif(F.regexp_extract(F.col(html_col), _CHARSET_RE, 1),
                     F.lit("")),
            F.nullif(
                F.regexp_extract(
                    F.col(html_col), _META_CONTENT_CHARSET_RE, 1),
                F.lit("")),
            F.lit(""),
        )
    )
    declared = raw_declared
    for alias, canon in _CHARSET_ALIASES.items():
        declared = F.when(raw_declared == alias, F.lit(canon)) \
            .otherwise(declared)
    return df.select(
        F.col(id_col).alias("doc"),
        bom.alias("bom"),
        declared.alias("declared"),
        F.coalesce(
            F.nullif(bom, F.lit("")), F.nullif(declared, F.lit("")),
            F.lit("utf-8"),
        ).alias("charset"),
    )


def _remove_dot_segments(path: Column, depth: int = 8) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal as a fixed composition of
    global regexp_replace passes (both engines run the identical step
    list, so cross-engine parity holds even in corner cases). Each pass
    collapses one non-overlapping layer of '/seg/../' and '/./'; `depth`
    passes resolve any path with up to `depth` nesting levels of dot
    segments — beyond that the residue stays verbatim (bounded work per
    row; crawl URLs with >8 stacked '..' are attack noise, not links).
    Leading '/../' runs clamp to '/' (the RFC's merge-at-root rule)."""
    p = path
    for _ in range(depth):
        p = F.regexp_replace(p, r"/\.(?:/|$)", "/")        # /./ and /.
        p = F.regexp_replace(p, r"/[^/]+/\.\.(?:/|$)", "/")  # /seg/../
        p = F.regexp_replace(p, r"^/\.\.(?:/|$)", "/")     # root-level ..
    return p


def resolve_urls(df: DataFrame, base_col: str, ref_col: str) -> DataFrame:
    """RFC 3986 §5 reference resolution for the crawl frontier: absolute
    refs pass through, '//host/x' adopts the base scheme, '/x' replaces
    the path, '?q' replaces the query, '' / '#frag' resolve to the base,
    and relative paths merge with the base directory then run
    dot-segment removal. Fragments are stripped from every output (a
    frontier never fetches fragments). The step between anchor
    extraction (anchor_texts) and frontier admission (crawl_gate) —
    real pages link relatively, a frontier needs absolute URLs.

    Zero shuffle: a CASE over codegen'd regexps fused into the scan.
    Dot-segment removal is the fixed 8-pass composition of
    :func:`_remove_dot_segments`, applied to the PATH only (never the
    query string, which may legally contain '/../'). Emits (base, ref,
    resolved); a relative ref against a base with no authority resolves
    to '' rather than erroring (corpus bytes are dirty).
    """
    base = F.regexp_extract(F.col(base_col), r"^([^#]*)", 1)
    ref = F.regexp_extract(F.col(ref_col), r"^([^#]*)", 1)
    scheme = F.regexp_extract(base, r"(?i)^([a-z][a-z0-9+.-]*):", 1)
    authroot = F.regexp_extract(
        base, r"(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
    base_path = F.regexp_extract(base, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    base_path = F.when(base_path == "", F.lit("/")).otherwise(base_path)
    base_dir = F.regexp_replace(base_path, r"[^/]*$", "")
    base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)

    def _path_query(s: Column) -> Column:
        p = F.regexp_extract(s, r"^([^?]*)", 1)
        q = F.regexp_extract(s, r"(\?.*)$", 1)
        return F.concat(_remove_dot_segments(p), q)

    resolved = (
        F.when(ref.rlike(r"(?i)^[a-z][a-z0-9+.-]*:"), ref)
        .when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref))
        .when(ref.startswith("/"),
              F.concat(authroot, _path_query(ref)))
        .when(ref == "", base)
        .when(ref.startswith("?"),
              F.concat(authroot, base_path, ref))
        .otherwise(F.concat(authroot, _path_query(F.concat(base_dir, ref))))
    )
    resolved = F.when(authroot == "",
                      F.when(ref.rlike(r"(?i)^[a-z][a-z0-9+.-]*:"), ref)
                      .otherwise(F.lit(""))).otherwise(resolved)
    return df.select(
        F.col(base_col).alias("base"),
        F.col(ref_col).alias("ref"),
        resolved.alias("resolved"),
    )


def exact_k_sample(df: DataFrame, id_col: str, stratum_col: str,
                   k: int, salt: str = "ks") -> DataFrame:
    """Exactly-k-per-stratum deterministic sampling: within each stratum
    keep the k docs with the smallest md5(salt || id) — a reproducible
    "random" k that never over- or under-shoots (stratified_sample's
    hash-rate draw gives k only in expectation; quota evaluations and
    eval-set carving need exact counts).

    Scale shape (the part a naive row_number gets wrong): ranking a
    mega-stratum in one window task is a 10^10-row sort on one reducer.
    Instead: one per-stratum COUNT (hash agg), then a HASH PRE-FILTER
    keeps each doc iff its uniform draw lies under ~2x the k/n rate
    (floor at 1/64 so tiny strata keep everything), and only the
    surviving ~2k rows per stratum enter the row_number window. The
    window input is bounded by the oversample factor, never the stratum
    size; the 2x margin makes undershoot (fewer than k survivors) a
    <1e-9 tail event for k >= 64, and any shortfall is visible (the
    output simply has < k rows for that stratum, never wrong rows).

    Determinism: the draw is a pure function of the id (64-bit md5
    prefix vs an integer threshold — integer compare, no float rate),
    the rank orders by (hash, id), and both engines compute the same
    md5 — retry-, partitioning-, and engine-stable.
    """
    from pyspark.sql import Window

    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col)
                                          .cast("string"))), 1, 15), 16, 10) \
        .cast("decimal(20,0)").cast("long")          # uniform in [0, 2^60)
    n = df.groupBy(F.col(stratum_col).alias("stratum")) \
          .agg(F.count(F.lit(1)).alias("n"))
    # keep iff draw < space * max(2k/n, 1/64), tested as pure integer
    # cross-multiplications (h*n < 2^61*k ; h*64 < 2^60) — no decimal
    # division whose rounding could drift between engines. h*n stays
    # under 10^31 << decimal(38) for any real stratum size.
    hd = F.col("h").cast("decimal(38,0)")
    # the 2^61*k literal exceeds int64 — ship it as a decimal string
    keep = (hd * F.col("n").cast("decimal(38,0)")
            < F.expr(f"CAST('{(1 << 61) * k}' AS DECIMAL(38,0))")) | \
           (F.col("h") < F.lit(1 << 54))
    pre = (
        df.select(F.col(id_col).alias("doc"),
                  F.col(stratum_col).alias("stratum"), h.alias("h"))
        .join(n, "stratum")
        .where(keep)
    )
    w = Window.partitionBy("stratum").orderBy("h", "doc")
    return (
        pre.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("stratum", "doc", F.col("rk").cast("bigint").alias("rk"))
    )


def bpe_merges(
    df: DataFrame, text_col: str, n_merges: int = 3
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus:
    (rank, left, right, pair_count), rank 1 = most frequent adjacent
    symbol pair, recomputed after each merge — the tokenizer-training
    primitive (Sennrich et al. 2016; cf. the byte-pair loop in
    openai/tiktoken's educational implementation, public reference).

    Semantics: training runs on the word-frequency dictionary (standard
    BPE), words restricted to ^[a-z0-9]+$ so the symbol alphabet stays
    replace-safe. Each word is armored as " c1  c2  c3 " (every symbol
    wrapped in single spaces, so adjacent symbols are separated by TWO
    spaces); a merge of (x, y) is the plain string replacement
    " x  y " -> " xy ", which both Spark and DuckDB apply left-to-right
    non-overlapping — exactly BPE's greedy merge order, with no regex
    (and no lookbehind, which RE2 lacks). Argmax ties break on
    (count desc, left asc, right asc), a total order, so both engines
    pick the identical rule at every step.

    Scale shape: the ONLY corpus-wide pass is the initial word count (one
    shuffle with map-side partials); every merge iteration runs on the
    vocab-bounded frequency table — pair counts are a vocab-keyed agg, the
    argmax is a 1-row TakeOrdered broadcast-crossJoined back, and the
    merge application is a projection. The whole program is ONE lazy plan
    (no driver-side collect between iterations); at production vocab
    sizes persist the word-count table once so the n_merges re-reads hit
    cache instead of rescanning the corpus."""
    out, _ = _bpe_chain(df, text_col, n_merges)
    return out


def _bpe_words(text_col: str) -> Column:
    return F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))


def _bpe_chain(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE learning chain: returns (rules, merged word dict) where
    rules = (rank, left, right, pair_count) and the dict carries each
    vocab word's final space-armored symbol string after all merges."""
    flat = df.select(F.explode(_bpe_words(text_col)).alias("w")).filter(
        F.col("w").rlike(r"^[a-z0-9]+$")
    )
    wc = flat.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # " c1  c2  c3 ": every symbol wrapped in single spaces, so adjacent
    # symbols are separated by exactly two
    cur = wc.select(
        "w",
        "cnt",
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1  ")),
            F.lit(" "),
        ).alias("sym"),
    )
    out = None
    for rank in range(1, n_merges + 1):
        toks = F.split(F.trim(F.col("sym")), "  ")
        prs = F.zip_with(
            F.expr("slice(t, 1, greatest(size(t) - 1, 0))"),
            F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        pair_counts = (
            cur.select("cnt", toks.alias("t"))
            .select("cnt", F.explode(prs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
        )
        best = pair_counts.orderBy(F.desc("c"), "l", "r").limit(1)
        rule = best.select(
            F.lit(rank).cast("bigint").alias("rank"),
            F.col("l").alias("left"),
            F.col("r").alias("right"),
            F.col("c").cast("bigint").alias("pair_count"),
        )
        out = rule if out is None else out.unionByName(rule)
        cur = cur.crossJoin(
            F.broadcast(best.select(F.col("l").alias("_l"), F.col("r").alias("_r")))
        ).select(
            "w",
            "cnt",
            F.replace(
                F.col("sym"),
                F.concat(F.lit(" "), F.col("_l"), F.lit("  "), F.col("_r"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("_l"), F.col("_r"), F.lit(" ")),
            ).alias("sym"),
        )
    return out, cur


def bpe_tokenize(
    df: DataFrame, id_col: str, text_col: str, n_merges: int = 3
) -> DataFrame:
    """Learn the first ``n_merges`` BPE rules (see :func:`bpe_merges`) and
    APPLY them to the corpus: per document, (n_words, n_tokens, n_skipped)
    where n_tokens is the post-merge symbol count summed over the doc's
    tokenizable words and n_skipped counts words outside ^[a-z0-9]+$.

    Scale shape: the merges are applied to the DISTINCT-WORD dictionary
    (vocab-bounded — the per-word token count is computed once per vocab
    entry, not once per occurrence), and the corpus side is one explode +
    one word-keyed hash join + one doc-keyed agg. At web scale the dict
    side is millions of rows against trillions of word occurrences; the
    join key is the word string, which AQE's skew handling splits for
    stopword-grade hot keys."""
    _, dic = _bpe_chain(df, text_col, n_merges)
    tok = dic.select(
        "w",
        F.size(F.split(F.trim(F.col("sym")), "  ")).cast("bigint").alias("tok_n"),
    )
    flat = df.select(
        F.col(id_col).alias("doc"), F.explode(_bpe_words(text_col)).alias("w")
    )
    j = flat.join(tok, "w", "left")
    return j.groupBy("doc").agg(
        F.count("tok_n").alias("n_words"),
        F.coalesce(F.sum("tok_n"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("tok_n").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_skipped"),
    )


def extraction_eval(
    df: DataFrame, id_col: str, pred_col: str, gold_col: str
) -> DataFrame:
    """Extraction-quality evaluation at corpus scale: per document, the
    token-BAG precision / recall / F1 of a predicted extraction column
    against a gold text column — the eval harness an extraction tier runs
    whenever the extractor (or its config) changes, over the slice of the
    corpus that has editorial gold text.

    Token bags use the engine-wide tokenization (lower + trim + split on
    whitespace); overlap is the multiset intersection
    ``sum_w least(tf_pred(w), tf_gold(w))``, so a predicted token only
    counts as many times as gold actually contains it. Precision
    (overlap/|pred|) and recall (overlap/|gold|) are floored to exact
    integer BASIS POINTS (``x div y`` on BIGINTs — non-negative, so
    truncation == floor in both engines), and F1 is the harmonic mean of
    the floored bp values, floored again: every emitted number is an exact
    integer, immune to cross-engine float drift. Zero denominators emit 0.

    Returns (doc, pred_n, gold_n, overlap, precision_bp, recall_bp, f1_bp).

    Scale shape: one explode per side into a shared (doc, token)-keyed
    hash agg (map-side partials collapse repeated tokens before the
    shuffle), then a doc-keyed integer SUM — the same two-shuffle profile
    as unigram_kl. Per-doc sizes ride the row-local array length, so empty
    documents survive without a distinct-ids pass. Nothing is quadratic
    and nothing crosses into Python."""
    pw = _doc_words(df, id_col, pred_col)
    gw = _doc_words(df, id_col, gold_col)
    sizes = (
        pw.select("doc", F.size("words").cast("bigint").alias("pred_n"))
        .join(gw.select("doc", F.size("words").cast("bigint").alias("gold_n")),
              "doc")
    )
    sides = (
        pw.select("doc", F.explode("words").alias("w"),
                  F.lit(1).alias("p"), F.lit(0).alias("g"))
        .unionByName(
            gw.select("doc", F.explode("words").alias("w"),
                      F.lit(0).alias("p"), F.lit(1).alias("g")))
    )
    tf = sides.groupBy("doc", "w").agg(
        F.sum("p").alias("tp"), F.sum("g").alias("tg"))
    ov = tf.groupBy("doc").agg(
        F.sum(F.least("tp", "tg")).cast("bigint").alias("overlap"))
    pr = (
        sizes.join(ov, "doc", "left")
        .select(
            "doc", "pred_n", "gold_n",
            F.coalesce("overlap", F.lit(0)).cast("bigint").alias("overlap"),
        )
        .select(
            "doc", "pred_n", "gold_n", "overlap",
            F.when(F.col("pred_n") > 0,
                   F.expr("(10000 * overlap) div pred_n"))
            .otherwise(F.lit(0)).cast("bigint").alias("precision_bp"),
            F.when(F.col("gold_n") > 0,
                   F.expr("(10000 * overlap) div gold_n"))
            .otherwise(F.lit(0)).cast("bigint").alias("recall_bp"),
        )
    )
    return pr.select(
        "*",
        F.when(
            F.col("precision_bp") + F.col("recall_bp") > 0,
            F.expr("(2 * precision_bp * recall_bp)"
                   " div (precision_bp + recall_bp)"),
        ).otherwise(F.lit(0)).cast("bigint").alias("f1_bp"),
    )


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) urlkey — the canonical
    key of web-archive CDX indexes: the host is lowercased, a single
    leading ``www.`` is stripped, the remaining labels are reversed and
    comma-joined (``com,example``), then ``)`` + the lowercased path and
    the query with its parameters sorted, so all captures of one logical
    resource sort (and hash-partition) together regardless of host casing,
    www aliasing, or query-parameter order.

    IP hosts (dotted-quad or bracketless IPv6 from url_host) stay
    verbatim — reversing address octets would be meaningless. Ports are
    dropped with the authority (crawl-equivalence semantics). A bare
    authority gets the explicit ``/`` root path. Pure codegen'd
    projection: string/array ops only, no shuffle, fuses into any scan."""
    host = F.regexp_replace(url_host(url), r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    hostkey = F.when(
        host.rlike(r"^[0-9.]+$") | host.contains(":"), host
    ).otherwise(rev)
    rest = F.regexp_replace(
        F.lower(
            F.regexp_replace(url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*", "")
        ),
        r"#.*$", "",
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    sq = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        hostkey, F.lit(")"), path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sq)),
    )


def cdx_index(
    df: DataFrame, id_col: str, url_col: str, ts_col: str, text_col: str
) -> DataFrame:
    """CDX-style capture index over a crawl snapshot table: per capture,
    the SURT urlkey, timestamp, content digest (sha256 hex), how many
    captures the urlkey has, and whether this capture is a REVISIT — an
    identical-digest recrawl of content the index already holds at an
    earlier timestamp (web archives store revisits as pointers, not
    payload; a curation pipeline drops them before dedup even starts).

    Returns (capture, urlkey, ts, digest, n_captures, is_revisit).

    Scale shape: ONE exchange. The n_captures window partitions on urlkey,
    and the first-capture window on (urlkey, digest) reuses that
    partitioning — hash-partitioning on the key subset already clusters
    the superset, so Catalyst plans no second shuffle. The digest is
    computed at the scan (payload bytes never shuffle; 64 hex chars do)."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("capture"),
        surt_key(F.col(url_col)).alias("urlkey"),
        F.col(ts_col).cast("bigint").alias("ts"),
        F.sha2(F.col(text_col), 256).alias("digest"),
    )
    wk = Window.partitionBy("urlkey")
    wd = Window.partitionBy("urlkey", "digest")
    return base.select(
        "capture", "urlkey", "ts", "digest",
        F.count(F.lit(1)).over(wk).cast("bigint").alias("n_captures"),
        (F.min("ts").over(wd) < F.col("ts")).cast("bigint").alias("is_revisit"),
    )


def url_patterns(
    df: DataFrame, url_col: str, trap_min_distinct: int = 16
) -> DataFrame:
    """Templated-URL mining / crawler-trap detection: URLs collapse to a
    per-host template (runs of >=8 hex chars -> ``H``, digit runs -> ``N``,
    query values -> ``=V``), and templates whose DISTINCT-url count
    explodes are flagged — calendar traps, session-id links, and faceted
    listings generate unbounded URL spaces a frontier must cap per
    template, not per host.

    Returns (host, pattern, n_urls, n_distinct, is_trap).

    Scale shape: the template is a pure regexp projection at the scan;
    one hash agg keyed (host, pattern) with a partial-aggregating exact
    COUNT(DISTINCT url) — template cardinality is bounded (that is the
    point of templating), so the agg state stays small even for mega-hosts."""
    url = F.col(url_col)
    rest = F.regexp_replace(
        F.regexp_replace(url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*", ""),
        r"#.*$", "",
    )
    pat = F.regexp_replace(rest, r"[0-9a-f]{8,}", "H")
    pat = F.regexp_replace(pat, r"[0-9]+", "N")
    pat = F.regexp_replace(pat, r"=[^&#]*", "=V")
    return (
        df.select(
            url_host(url).alias("host"), pat.alias("pattern"), url.alias("u")
        )
        .groupBy("host", "pattern")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("u").alias("n_distinct"),
        )
        .select(
            "host", "pattern",
            F.col("n_urls").cast("bigint").alias("n_urls"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            (F.col("n_distinct") >= trap_min_distinct)
            .cast("bigint").alias("is_trap"),
        )
    )


def zone_map_prune(
    df: DataFrame,
    file_col: str,
    preds: list[tuple[int, str, int, int]],
) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning evaluation — the data-
    skipping layer of Iceberg manifests / Parquet row-group indexes,
    measured instead of assumed: given a file-id column (the physical
    clustering) and a list of ``(pred_id, col, lo, hi)`` range predicates
    over integer columns, build the per-file manifest (row count + min/max
    per referenced column) and report, per predicate, how many files a
    min/max-overlap scan planner keeps, how many rows those files hold,
    the exact matching row count, and how many kept files are pure false
    positives (zone-map overlap but zero matching rows) — the number that
    tells you whether the table's clustering actually serves the workload.

    Returns (pred_id, col, lo, hi, n_files, n_files_kept, rows_total,
    rows_in_kept_files, exact_rows, n_fp_files), all counts BIGINT.

    Scale shape: ONE pass over the data — the manifest stats AND the exact
    per-(file, predicate) match counts are conditional aggregates in the
    same map-side-combinable hash agg keyed on the file id (in production
    the min/max half arrives free from the table format's manifest; the
    exact half is the audit). The predicate evaluation then runs on the
    manifest alone — file-count-sized, row-count-free — so the report
    costs the same at 10^12 rows as the scan that builds it."""
    cols = sorted({c for _, c, _, _ in preds})
    stats = df.groupBy(F.col(file_col).alias("f")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.min(c).cast("bigint").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("bigint").alias(f"mx_{c}") for c in cols],
        *[
            F.sum(
                F.when(F.col(c).between(lo, hi), 1).otherwise(0)
            ).alias(f"m_{pid}")
            for pid, c, lo, hi in preds
        ],
    )
    exp = stats.select(
        F.col("n_rows"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).cast("bigint").alias("pred_id"),
                        F.lit(c).alias("col"),
                        F.lit(lo).cast("bigint").alias("lo"),
                        F.lit(hi).cast("bigint").alias("hi"),
                        F.col(f"mn_{c}").alias("mn"),
                        F.col(f"mx_{c}").alias("mx"),
                        F.col(f"m_{pid}").alias("m"),
                    )
                    for pid, c, lo, hi in preds
                ]
            )
        ).alias("p"),
    )
    kept = (F.col("p.mx") >= F.col("p.lo")) & (F.col("p.mn") <= F.col("p.hi"))
    return (
        exp.groupBy("p.pred_id", "p.col", "p.lo", "p.hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_files_kept"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(kept, F.col("n_rows")).otherwise(0))
            .cast("bigint").alias("rows_in_kept_files"),
            F.sum("p.m").cast("bigint").alias("exact_rows"),
            F.sum(F.when(kept & (F.col("p.m") == 0), 1).otherwise(0))
            .cast("bigint").alias("n_fp_files"),
        )
    )


def phrase_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Phrase-index retrieval for the corpus's hottest two-word phrases:
    build the adjacent-token (bigram) stream row-locally, find the top-k
    bigrams by collection frequency (ties broken lexicographically), and
    return every (bigram, document) occurrence count — the positional-
    postings phrase-match next to term_postings (df/postings) and
    bm25_search (ranked single terms): the adjacency constraint that
    postings-with-positions exist to answer, expressed as a zip of the
    token array with its own tail so no position column ever shuffles.

    Returns (bigram, corpus_freq, doc_id, n_occ).

    Scale shape: bigram construction is a zero-shuffle projection
    (zip_with over the split array); the collection-frequency agg is the
    one data-sized shuffle, keyed on the bigram with map-side partials;
    top-k is a TakeOrdered over the aggregated vocabulary (never a total
    sort of the corpus); the per-document occurrence agg joins the
    exploded stream against the BROADCAST k-row phrase list before its
    own (bigram, doc) agg, so only matching rows reach the second
    shuffle."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    stream = df.select(
        F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("bigram")
    )
    top = (
        stream.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("corpus_freq"))
        .orderBy(F.desc("corpus_freq"), F.asc("bigram"))
        .limit(k)
    )
    return (
        stream.join(F.broadcast(top), "bigram")
        .groupBy("bigram", "corpus_freq", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )


def ks_drift(df: DataFrame, value_col: str, side_col: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the integer
    ``value_col`` distributions of side 0 (baseline) and side 1
    (candidate) — the distribution-shift gate between crawl snapshots,
    extractor versions, or curation configs: supremum distance between
    the two empirical CDFs, carried EXACTLY as the integer numerator
    ``|cum_a*n_b - cum_b*n_a|`` (the CDF difference times n_a*n_b) so the
    argmax and the reported basis points are engine- and order-exact.
    The supremum's location ties break to the smallest value.

    Returns ONE row (n_a, n_b, at_value, d_num, ks_bp) with
    ks_bp = d_num * 10000 // (n_a * n_b).

    Scale shape: the value histogram is the one data-sized shuffle (hash
    agg keyed on the value with map-side partials) — everything after
    runs on distinct-value-count rows, not row count. The cumulative
    window is a single ordered pass over that bounded histogram (the same
    value-histogram plan as length_percentiles); the supremum is a
    TakeOrdered(1), never a total sort of the data. n_a*n_b*10000 must
    fit BIGINT — holds to ~10^7 rows per side; shard-and-merge above."""
    from pyspark.sql.window import Window

    side = F.col(side_col)
    pv = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(side == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(side == 0, 0).otherwise(1)).alias("b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pv.select(
        "v",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )
    tot = pv.agg(
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum("b").cast("bigint").alias("n_b"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "n_a", "n_b", F.col("v").alias("at_value"),
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
        .cast("bigint").alias("d_num"),
    )
    return (
        d.orderBy(F.desc("d_num"), F.asc("at_value"))
        .limit(1)
        .select(
            "n_a", "n_b", "at_value", "d_num",
            F.expr("CAST((d_num * 10000) DIV (n_a * n_b) AS BIGINT)")
            .alias("ks_bp"),
        )
    )


def zipf_fit(df: DataFrame, text_col: str, top_r: int = 256) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: the
    least-squares slope of ln(freq) against ln(rank) for the top
    ``top_r`` terms — natural text tracks slope ≈ -1, and the deviation
    is a corpus-health signal (template/boilerplate floods flatten the
    head; OCR noise or spam fattens the tail). Engine-exact by the
    micro-nat convention: the ONLY float op is one ln per ranked term,
    quantized to BIGINT milli-nats; the regression sums, the slope
    numerator/denominator, and the reported magnitude are pure integer
    arithmetic (positive-only divisions, so floor and truncation agree
    across engines).

    Returns ONE row (n_terms, num, den, abs_slope_ppm): the exact
    integers num = n*Sxy - Sx*Sy (<= 0 here: frequency is
    rank-monotone), den = n*Sxx - Sx^2, and the quotient+remainder ppm
    abs_slope_ppm = ((-num) DIV den)*10^6 + (((-num) % den)*1000) DIV
    (den DIV 1000) — ~1_000_000 for slope -1. Splitting the integer and
    fractional parts keeps every intermediate under 2^63 (remainder <
    den <= n*Sxx ~ 2e12, times 1000 is safe) while losing only the
    den DIV 1000 truncation (~1e-3 relative, below the milli-nat
    quantization noise already in x/y); 0 when den < 1000 (degenerate
    sub-milli spread).

    Scale shape: the vocabulary agg is the one data-sized shuffle
    (term-keyed, map-side partials); top_r selection is a TakeOrdered
    over the aggregated vocabulary; ranking and the regression run on
    top_r rows — corpus-size-free."""
    from pyspark.sql.window import Window

    terms = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    top = vocab.orderBy(F.desc("freq"), F.asc("term")).limit(top_r)
    ranked = top.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("term")))
        .alias("rank"),
    )
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1000)
        .cast("bigint").alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * 1000)
        .cast("bigint").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint").alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint").alias("den"),
    ).select(
        "n_terms", "num", "den",
        F.expr(
            "CAST(CASE WHEN den DIV 1000 > 0"
            "     THEN ((-num) DIV den) * 1000000"
            "        + (((-num) % den) * 1000) DIV (den DIV 1000)"
            "     ELSE 0 END AS BIGINT)"
        ).alias("abs_slope_ppm"),
    )


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word n-grams whose FIRST corpus occurrence (smallest document id) is
    this document — the incremental-contribution signal of a crawl batch:
    recrawls, mirrors, and template floods score near zero, genuinely new
    content near 10000 bp, and the corpus-wide novelty trend tells you
    when a crawl has stopped finding new text.

    Returns (doc_id, n_grams, n_novel, novelty_bp) for every document
    (gram-free docs — shorter than n words — carry zeros).

    Scale shape: n-gram construction AND the per-doc dedup are
    zero-shuffle projections (``array_distinct`` dedupes inside each
    document's gram array before the explode — no corpus-wide DISTINCT
    shuffle); the gram-keyed MIN(doc) attribution is a
    map-side-combinable agg whose g-exchange Spark reuses
    (ReusedExchange) for the join probe side, and the join itself is
    gram-keyed so AQE can split a template-flood hot gram (a window
    PARTITION BY g could not); the final per-doc count agg is
    doc-keyed. No all-pairs surface anywhere."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    sz = F.size(toks)
    grams = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dg = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(grams)).alias("g"),
    )
    first = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        dg.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint").alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id", "n_grams", "n_novel",
            F.expr(
                "CAST(CASE WHEN n_grams > 0"
                "     THEN (n_novel * 10000) DIV n_grams ELSE 0 END"
                "     AS BIGINT)"
            ).alias("novelty_bp"),
        )
    )


def salt_skew_audit(
    df: DataFrame,
    key_col: str,
    id_col: str,
    n_buckets: int = 16,
    n_salts: int = 8,
) -> DataFrame:
    """Audit how salting defuses partition-key skew: bucket every row by
    md5(key) % n_buckets (``plain``) and by md5(key # id % n_salts) %
    n_buckets (``salted``), and report per-strategy bucket-occupancy
    stats. ``skew_bp`` is max-bucket share relative to the uniform ideal
    in basis points (10000 = perfectly even; a single hot key at 40% of
    rows reads ~ 40% * n_buckets * 10000).

    This is the planning twin of the pipeline's hash(url)+salt
    repartition (pipeline.py): a crawl's host distribution is Zipfian, so
    hash(host) alone leaves one reducer holding the mega-host; appending
    a small per-row salt splits that key across ``n_salts`` buckets at
    the cost of a second-stage merge. The audit quantifies exactly that
    trade before a 100 TB run commits to a layout.

    Shape: two B-key hash aggs (map-side partials) over a projected
    bucket id — the md5 runs codegen'd JVM-side; nothing driver-side.
    Portable: md5 is bit-identical in every engine, so the DuckDB twin
    reproduces the buckets exactly.
    """

    def _bucket(key: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
            % n_buckets
        )

    def _summary(bucketed: DataFrame, strategy: str) -> DataFrame:
        per = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
            F.max("n").cast("bigint").alias("max_bucket_n"),
            F.min("n").cast("bigint").alias("min_bucket_n"),
            F.expr(
                f"CAST((MAX(n) * {n_buckets} * 10000) DIV SUM(n) AS BIGINT)"
            ).alias("skew_bp"),
        ).select(
            F.lit(strategy).alias("strategy"),
            "n_buckets_used", "max_bucket_n", "min_bucket_n", "skew_bp",
        )

    key = F.col(key_col)
    salted = F.concat(
        key, F.lit("#"), (F.col(id_col) % n_salts).cast("string"))
    plain_b = df.select(_bucket(key).alias("bucket"))
    salted_b = df.select(_bucket(salted).alias("bucket"))
    return _summary(plain_b, "plain").unionByName(
        _summary(salted_b, "salted"))


def digit_hist_quantiles(
    df: DataFrame,
    col: str,
    quantiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Mergeable decimal-digit histogram quantiles over a non-negative
    integer column: bucket every value by its decimal digit count (a
    base-10 log histogram — ~19 buckets cover all of int64), then read
    each requested percentile as the smallest bucket whose cumulative
    count reaches it. Returns (quantile_pct, bucket_digits, bucket_ub,
    n_le) where ``bucket_ub`` = 10^digits - 1 is the bucket's inclusive
    upper bound and ``n_le`` the cumulative count through that bucket.

    This is the quantile member of the sketch family beside HLL
    (:func:`hll_distinct`), CMS (:func:`cms_heavy_hitters`) and the Bloom
    semi-join: per-partition histograms are plain counts, so they merge
    by addition — one map-side-partial agg over <= 19 keys replaces a
    global sort, and the answer is a deterministic bucket bound rather
    than an engine-specific interpolation (exact integer arithmetic,
    identical in any engine — no approx_percentile nondeterminism).

    Shape: one hash agg on the digit bucket, then windows + the quantile
    read over the <= 19-row histogram frame. Nothing data-sized past the
    first agg. ``bucket_ub`` is NULL for buckets past 18 digits (10^19-1
    exceeds int64; ANSI mode would raise on the cast otherwise).
    """
    base = df.filter(F.col(col).isNotNull() & (F.col(col) >= 0))
    hist = (
        base.select(F.length(F.col(col).cast("string")).alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = (
        hist
        .withColumn("cum", F.sum("n").over(wcum))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    qs = cum.limit(1).select(
        F.explode(F.array(*[F.lit(int(q)) for q in quantiles]))
        .alias("quantile_pct"))
    sel = (
        qs.crossJoin(cum.select("bucket", "cum", "total"))
        .filter(F.col("cum") * 100 >= F.col("quantile_pct") * F.col("total"))
        .groupBy("quantile_pct")
        .agg(F.min("bucket").alias("bucket_digits"))
    )
    return (
        sel.join(cum.select("bucket", "cum"),
                 sel.bucket_digits == F.col("bucket"))
        .select(
            F.col("quantile_pct").cast("bigint").alias("quantile_pct"),
            F.col("bucket_digits").cast("bigint").alias("bucket_digits"),
            F.expr(
                "CASE WHEN bucket_digits <= 18"
                "     THEN CAST(repeat('9', bucket_digits) AS BIGINT)"
                "     ELSE NULL END"
            ).alias("bucket_ub"),
            F.col("cum").cast("bigint").alias("n_le"),
        )
    )


def pareto_front(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    n_prune_buckets: int = 64,
) -> DataFrame:
    """Exact 2-D Pareto front (maximize both axes) over integer metric
    columns: returns the (id, x, y) rows no other row dominates, where
    dominance is x' >= x AND y' >= y with at least one strict (equal
    points are mutually non-dominating and both kept).

    Two-stage scale shape: rows are first bucketed by md5(id) %
    ``n_prune_buckets`` and pruned to each bucket's LOCAL front — local
    dominance implies global dominance, so the prune is lossless — with
    a bucket-partitioned window (never a single-partition sort over the
    data). Only the survivors (at most the sum of local front sizes,
    typically O(sqrt) of the input for uncorrelated axes) hit the final
    global window. The front test per frame is one descending-x range
    window: on the front iff y beats max(y) over strictly-greater x AND
    y equals max(y) within its own x.

    Worst case (perfectly anti-correlated axes) every row IS the front
    and no pruning exists for any algorithm; the bucket stage still
    bounds each task's frame to 1/B of the data.
    """

    def _front(pts: DataFrame, *part_cols: str) -> DataFrame:
        w_gt = (
            Window.partitionBy(*part_cols).orderBy(F.col("x").desc())
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*part_cols, "x")
        return (
            pts
            .withColumn("max_y_gt", F.max("y").over(w_gt))
            .withColumn("max_y_eq", F.max("y").over(w_eq))
            .filter(
                (F.col("max_y_gt").isNull()
                 | (F.col("y") > F.col("max_y_gt")))
                & (F.col("y") == F.col("max_y_eq"))
            )
            .select("id", "x", "y")
        )

    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    )
    bucketed = pts.withColumn(
        "bk",
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15),
               16, 10).cast("bigint") % n_prune_buckets,
    )
    survivors = _front(bucketed, "bk")
    return _front(survivors).select(
        F.col("id"), F.col("x"), F.col("y"))


def rrf_fusion(
    df: DataFrame,
    id_col: str,
    signal_cols: list[str],
    k: int = 60,
    scale: int = 10**6,
) -> DataFrame:
    """Reciprocal-rank fusion of integer quality signals: per row, the
    exact global rank under each signal (ordered signal DESC, id ASC —
    fully deterministic), fused as ``rrf_micro`` = sum over signals of
    ``scale // (k + rank)``. RRF is the standard way to combine
    incomparable quality scores (length vs vocabulary vs alpha purity)
    without normalizing their distributions: only ranks matter, outliers
    can't capture the blend, and k=60 damps rank-1 dominance.

    Scale shape — exact global rank WITHOUT a global sort: rank =
    (count of rows with a strictly greater signal) + (row_number within
    the equal-signal group ordered by id). The signals are UNPIVOTED to
    one (id, sig, val) frame so every signal shares the same four
    stages: one (sig, val) histogram agg with map-side partials, one
    cumulative window per signal over distinct values only (histogram-
    sized, never data-sized), one (sig, val)-keyed row_number +
    histogram join (co-partitioned — the join reuses the window's
    exchange), and one id-keyed agg to re-widen. Four shuffles TOTAL for
    any number of signals, vs 3-4 per signal in the per-column
    formulation this replaced (measured 4.3-5.1 s -> 2.7-2.8 s at sf0.1; at
    100 TB the same rewrite removes 2(|signals|-1) full-data shuffles
    and the |signals|-way id-keyed join chain).

    NULL signals: a NULL value gets no rank under its signal (the
    (sig, val) join drops it) and shifts no other row's rank (NULLs sort
    after every value). Its row keeps ``rank_<c>`` NULL and ``rrf_micro``
    NULL; an id whose signals are all NULL is absent from the output. The
    per-column formulation this replaced dropped an id with ANY NULL
    signal, so the two differ on such rows (no current caller passes
    NULLs).
    """
    out = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c).cast("bigint").alias(c) for c in signal_cols],
    )
    stack_args = ", ".join(f"'{c}', {c}" for c in signal_cols)
    unp = out.select(
        "id",
        F.expr(f"stack({len(signal_cols)}, {stack_args}) AS (sig, val)"),
    )
    hist = unp.groupBy("sig", "val").agg(F.count(F.lit(1)).alias("n"))
    w_gt = (
        Window.partitionBy("sig").orderBy(F.col("val").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "sig", "val",
        F.coalesce(F.sum("n").over(w_gt), F.lit(0)).alias("n_gt"))
    w_eq = Window.partitionBy("sig", "val").orderBy("id")
    ranked = (
        unp.withColumn("rn", F.row_number().over(w_eq))
        .join(cum, ["sig", "val"])
        .select("id", "sig",
                (F.col("n_gt") + F.col("rn")).cast("bigint").alias("rank"))
    )
    wide = ranked.groupBy("id").agg(*[
        F.max(F.when(F.col("sig") == c, F.col("rank")))
        .cast("bigint").alias(f"rank_{c}")
        for c in signal_cols
    ])
    rrf = None
    for c in signal_cols:
        term = F.expr(f"CAST({scale} AS BIGINT) div ({k} + rank_{c})")
        rrf = term if rrf is None else rrf + term
    return wide.select(
        "id",
        *[f"rank_{c}" for c in signal_cols],
        rrf.cast("bigint").alias("rrf_micro"),
    )


def readability(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Integer Flesch-reading-ease proxy per document: (id, n_words,
    n_sentences, n_syllables, flesch_milli, band). Sentences are runs of
    ``[.!?]`` (floored at 1), syllables the classic vowel-run proxy
    (``[aeiouy]+`` on the lowercased text), and the score is the Flesch
    formula in exact milli-points — ``206835 - (1015*W) div S -
    (84600*Syl) div W`` — so it is bit-identical on any engine (no float
    coefficients). Empty/whitespace-only documents are excluded (W=0 has
    no defined score). Bands at the textbook 90/60/30 cut points.

    Readability is a standard cheap quality lens for web-text curation
    (boilerplate and keyword-stuffed pages score as extreme outliers on
    W/S and Syl/W). Shape: one codegen'd regex projection, no shuffle,
    no UDF.
    """
    t = F.trim(F.col(text_col))
    low = F.lower(F.col(text_col))
    base = (
        df.filter(F.length(t) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.size(F.split(t, r"\s+")).cast("bigint").alias("n_words"),
            F.greatest(
                F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")),
                F.lit(1),
            ).cast("bigint").alias("n_sentences"),
            F.regexp_count(low, F.lit(r"[aeiouy]+"))
            .cast("bigint").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
    )
    flesch = F.expr(
        "206835 - (1015 * n_words) div n_sentences"
        " - (84600 * n_syllables) div n_words"
    ).cast("bigint")
    return base.select(
        "id", "n_words", "n_sentences", "n_syllables",
        flesch.alias("flesch_milli"),
    ).select(
        "id", "n_words", "n_sentences", "n_syllables", "flesch_milli",
        F.expr(
            "CASE WHEN flesch_milli >= 90000 THEN 'very_easy'"
            "     WHEN flesch_milli >= 60000 THEN 'standard'"
            "     WHEN flesch_milli >= 30000 THEN 'difficult'"
            "     ELSE 'very_difficult' END"
        ).alias("band"),
    )


def winsorize(
    df: DataFrame,
    key_col: str,
    val_col: str,
    lo_pct: int = 1,
    hi_pct: int = 99,
) -> DataFrame:
    """Per-group winsorization report over an integer metric: exact
    percentile bounds p_lo/p_hi (smallest value whose cumulative count
    reaches ceil(pct*n/100) — the value-histogram rule shared with
    :func:`length_percentiles`), how many values each tail clamps, and
    the group sum before/after clamping. Winsorization is the standard
    robust pre-aggregation guard: one corrupted 10^12 outlier (price
    glitch, scraper artifact) otherwise owns the group mean.

    All arithmetic is exact BIGINT (ceil as ``(pct*n + 99) div 100``) so
    the report is bit-identical cross-engine. Shape: one (key, value)
    hash agg with map-side partials is the only data-sized shuffle; the
    percentile windows and the clamp-sum agg run on the per-group
    distinct-value histogram.
    """
    hist = (
        df.select(F.col(key_col).alias("k"),
                  F.col(val_col).cast("bigint").alias("v"))
        .groupBy("k", "v").agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("k").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wk = Window.partitionBy("k")
    r = (
        hist
        .withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(wk))
    )
    bounds = r.groupBy("k").agg(
        F.min(F.when(
            F.col("cum") >= F.expr(f"({lo_pct} * n + 99) div 100"),
            F.col("v"))).alias("p_lo"),
        F.min(F.when(
            F.col("cum") >= F.expr(f"({hi_pct} * n + 99) div 100"),
            F.col("v"))).alias("p_hi"),
    ).select("k", "p_lo", "p_hi")
    return (
        hist.join(bounds, "k")
        .groupBy("k")
        .agg(
            F.max("p_lo").cast("bigint").alias("p_lo"),
            F.max("p_hi").cast("bigint").alias("p_hi"),
            F.sum(F.when(F.col("v") < F.col("p_lo"), F.col("c"))
                  .otherwise(F.lit(0))).cast("bigint").alias("n_lo"),
            F.sum(F.when(F.col("v") > F.col("p_hi"), F.col("c"))
                  .otherwise(F.lit(0))).cast("bigint").alias("n_hi"),
            F.sum(F.col("c") * F.col("v")).cast("bigint").alias("sum_raw"),
            F.sum(
                F.col("c")
                * F.greatest(F.least(F.col("v"), F.col("p_hi")),
                             F.col("p_lo"))
            ).cast("bigint").alias("sum_clamped"),
        )
        .select(F.col("k").alias(key_col), "p_lo", "p_hi",
                "n_lo", "n_hi", "sum_raw", "sum_clamped")
    )


SCRIPT_CLASSES = [
    # (name, Java-regex class) — the DuckDB oracle spells the same
    # classes in RE2 form (\p{Devanagari} etc.); both engines count
    # code points, so the counts are bit-identical.
    ("deva", r"\p{IsDevanagari}"),
    ("han", r"\p{IsHan}"),
    ("cyr", r"\p{IsCyrillic}"),
    ("latin", r"\p{IsLatin}"),
    ("digit", r"[0-9]"),
]


def script_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Per-row Unicode-script composition: code-point counts per script
    class (Devanagari, Han, Cyrillic, Latin, ASCII digits, other) plus a
    dominant-script label with a fixed deterministic tie-break (deva >
    han > cyr > latin). Script mix is the standard pre-language-ID
    routing signal in multilingual web corpora — a page that is 40%
    Devanagari never goes to the Latin-alphabet language classifier, and
    a sudden corpus-level script-share shift is a crawler-config
    regression alarm.

    Pure codegen'd projection (count = length minus length after
    stripping the class): no shuffle, no Python."""
    t = F.col(text_col)
    cols = [df["*"]]
    for name, cls in SCRIPT_CLASSES:
        cols.append(
            (F.length(t) - F.length(F.regexp_replace(t, cls, "")))
            .cast("bigint").alias(f"{name}_chars"))
    out = df.select(*cols)
    known = None
    for name, _ in SCRIPT_CLASSES:
        c = F.col(f"{name}_chars")
        known = c if known is None else known + c
    return out.select(
        "*",
        (F.length(t).cast("bigint") - known).alias("other_chars"),
        F.when(
            (F.col("deva_chars") >= F.col("han_chars"))
            & (F.col("deva_chars") >= F.col("cyr_chars"))
            & (F.col("deva_chars") >= F.col("latin_chars")), "deva")
        .when(
            (F.col("han_chars") >= F.col("cyr_chars"))
            & (F.col("han_chars") >= F.col("latin_chars")), "han")
        .when(F.col("cyr_chars") >= F.col("latin_chars"), "cyr")
        .otherwise("latin").alias("dominant_script"),
    )


def politeness_schedule(
    df: DataFrame,
    host_col: str,
    arrival_micros_col: str,
    order_col: str,
    delay_micros_col: str,
) -> DataFrame:
    """Per-host crawl politeness scheduling: given fetch arrivals and a
    per-host minimum delay d, the k-th fetch of a host starts at
    sched_k = max(arr_k, sched_{k-1} + d). Returns one row per host:
    (host, n_fetches, total_wait_micros, max_wait_micros,
    finish_micros) — the queueing report that sizes the frontier (is
    the crawl host-bound or fetcher-bound?).

    The sequential recurrence has the closed form
    sched_k = k*d + max_{j<=k}(arr_j - j*d), so it is ONE running
    window max over (arrival, order)-sorted rows per host — no
    driver-side loop, no per-row Python, exact BIGINT micros. Scale
    shape: a single host-keyed Exchange feeds both windows and the
    final per-host agg; hosts are independent, so AQE splits skewed
    hosts' window partitions only if a host truly dominates.

    The closed form is only valid for a CONSTANT per-host delay, so the
    effective d is MAX(delay) over the host (the conservative choice a
    politeness policy wants: the strictest crawl-delay ever seen for the
    host wins) — per-row delays that vary within a host are collapsed
    rather than silently producing a wrong schedule (round-3 advice)."""
    w_ord = Window.partitionBy("h").orderBy("arr", "ord")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_host = Window.partitionBy("h")
    rows = (
        df.select(
            F.col(host_col).alias("h"),
            F.col(arrival_micros_col).cast("bigint").alias("arr"),
            F.col(order_col).alias("ord"),
            F.col(delay_micros_col).cast("bigint").alias("d0"),
        )
        .withColumn("d", F.max("d0").over(w_host))
        .withColumn("seq", (F.row_number().over(w_ord) - 1).cast("bigint"))
        .withColumn("adj", F.col("arr") - F.col("seq") * F.col("d"))
        .withColumn("sched",
                    F.col("seq") * F.col("d") + F.max("adj").over(w_run))
    )
    return (
        rows.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
            F.sum(F.col("sched") - F.col("arr")).cast("bigint")
            .alias("total_wait_micros"),
            F.max(F.col("sched") - F.col("arr")).cast("bigint")
            .alias("max_wait_micros"),
            F.max("sched").cast("bigint").alias("finish_micros"),
        )
        .select(F.col("h").alias(host_col), "n_fetches",
                "total_wait_micros", "max_wait_micros", "finish_micros")
    )


MD_STRIP_STEPS = [
    # (pattern, replacement) applied in order — common Java-regex/RE2
    # dialect (no lookbehind/backrefs). Order matters: images before
    # links (shared suffix), code spans before emphasis.
    (r"```[^`]*```", " "),                    # fenced code blocks
    (r"`([^`]*)`", "$1"),                     # inline code
    (r"!\[([^\]]*)\]\([^)]*\)", "$1"),        # images -> alt text
    (r"\[([^\]]*)\]\([^)]*\)", "$1"),         # links -> anchor text
    (r"(^|\n)#{1,6}[ \t]*", "$1"),            # ATX headers
    (r"\*\*([^*]*)\*\*", "$1"),               # bold
    (r"\*([^*]*)\*", "$1"),                   # italic
    (r"(^|\n)>[ \t]*", "$1"),                 # blockquotes
    (r"(^|\n)[-*_]{3,}[ \t]*(\n|$)", "$1"),   # horizontal rules
]


def markdown_strip(df: DataFrame, text_col: str) -> DataFrame:
    """Markdown → plain text as a fixed chain of codegen'd regex
    replacements (fences, code spans, images/links to their text,
    headers, emphasis, blockquotes, rules) — the document-prep step for
    markdown-heavy web corpora (READMEs, forums, wikis). Adds
    ``stripped`` plus audit counts (n_links, n_headers, md_len,
    txt_len). Pure projection: no shuffle, no Python; the DuckDB twin
    applies the same steps with RE2 backreference syntax."""
    t = F.col(text_col)
    s = t
    for pat, rep in MD_STRIP_STEPS:
        s = F.regexp_replace(s, pat, rep)
    return df.select(
        "*",
        F.size(F.split(t, r"\]\(", -1)).cast("bigint").alias("_lp"),
        s.alias("stripped"),
    ).select(
        *[c for c in df.columns],
        "stripped",
        (F.col("_lp") - 1).alias("n_links"),
        (F.size(F.split(t, r"(^|\n)#{1,6}[ \t]", -1)) - 1).cast("bigint")
        .alias("n_headers"),
        F.length(t).cast("bigint").alias("md_len"),
        F.length("stripped").cast("bigint").alias("txt_len"),
    )


@F.pandas_udf(StringType())
def _nfc(s):
    """Unicode NFC via pandas' vectorized str.normalize — the one
    string-normalization crossing into Python (Spark ships no NFC
    builtin; production swaps this for an ICU/JVM UDF with identical
    semantics). Arrow-batched: no per-row Python in this module's
    code."""
    return s.str.normalize("NFC")


def nfc_audit(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group Unicode-normalization drift report: how many docs
    change under NFC (decomposed sequences, compatibility leftovers
    from CMS exports) and the code-point delta. Mixed NFC/NFD corpora
    silently break exact dedup and substring matching — this is the
    gate that decides whether a source needs a normalize pass.

    Returns (group, n_docs, n_drifted, chars_raw, chars_nfc). Shape:
    one Arrow-batched projection + one group hash agg."""
    t = F.col(text_col)
    return (
        df.select(F.col(group_col).alias("g"), t.alias("t"),
                  _nfc(t).alias("n"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("t") != F.col("n"), 1).otherwise(0))
            .cast("bigint").alias("n_drifted"),
            F.sum(F.length("t")).cast("bigint").alias("chars_raw"),
            F.sum(F.length("n")).cast("bigint").alias("chars_nfc"),
        )
        .select(F.col("g").alias(group_col), "n_docs", "n_drifted",
                "chars_raw", "chars_nfc")
    )


def group_entropy(df: DataFrame, group_col: str, class_col: str) -> DataFrame:
    """Shannon entropy of the class mix inside each group, in exact
    integer micro-nats: H = ln(n) - (Σ c_k ln c_k)/n over per-group
    class counts. The host-language-consistency / source-purity gate —
    a host whose pages split across many languages is usually a
    translation farm or a mis-routed fetcher, and entropy is the one
    number that ranks that.

    Exactness: one ln per DISTINCT count value, quantized to BIGINT
    micro-nats before the order-free integer SUM; the final division is
    truncating (positive operands). Returns (group, n_rows, n_classes,
    entropy_micro). Shape: one (group, class) hash agg with map-side
    partials, then one (group) agg — both keyed, no windows."""
    counts = (
        df.select(F.col(group_col).alias("g"), F.col(class_col).alias("k"))
        .groupBy("g", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    clnc = F.col("c") * F.round(
        F.log(F.col("c").cast("double")) * 1000000).cast("bigint")
    return (
        counts.groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(clnc).alias("sum_clnc"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_rows", "n_classes",
            (F.round(F.log(F.col("n_rows").cast("double")) * 1000000)
             .cast("bigint")
             - F.expr("sum_clnc div n_rows")).alias("entropy_micro"),
        )
    )


_FEED_ITEM_RE = r"(?is)<\s*item[\s>](.*?)<\s*/\s*item\s*>"
_FEED_ENTRY_RE = r"(?is)<\s*entry[\s>](.*?)<\s*/\s*entry\s*>"


def feed_parse(df: DataFrame, host_col: str, xml_col: str) -> DataFrame:
    """RSS-2.0 / Atom feed parsing: explode a feed document into
    (host, pos, kind, title, link, published) rows, one per <item>
    (kind='rss') or <entry> (kind='atom') in document order — the third
    host-published crawl-discovery input beside robots.txt
    (parse_robots) and sitemaps (sitemap_parse), and the only one that
    carries freshness. Atom links live in <link href="...">, RSS links
    in <link>text</link>; published falls back '' when absent
    (pubDate for RSS, published/updated for Atom). Malformed feeds
    yield zero rows, never an error.

    Zero shuffle: root sniff + regexp_extract_all + posexplode + three
    per-block extractions fused into the scan projection."""
    xml = F.col(xml_col)
    kind = F.when(xml.rlike(r"(?is)<\s*feed[\s>]"), F.lit("atom")) \
        .otherwise(F.lit("rss"))
    blocks = F.when(
        kind == "atom",
        F.regexp_extract_all(xml, F.lit(_FEED_ENTRY_RE), F.lit(1)),
    ).otherwise(
        F.regexp_extract_all(xml, F.lit(_FEED_ITEM_RE), F.lit(1))
    )
    exploded = df.select(
        F.col(host_col).alias("host"), kind.alias("kind"),
        F.posexplode(blocks).alias("pos", "block"),
    )
    b = F.col("block")
    link = F.when(
        F.col("kind") == "atom",
        F.regexp_extract(b, r'(?is)<\s*link[^>]*href\s*=\s*"([^"]*)"', 1),
    ).otherwise(
        F.regexp_extract(b, r"(?is)<\s*link\s*>\s*([^<\s][^<]*?)\s*<", 1)
    )
    # regexp_extract returns '' (never NULL) on no match, so the Atom
    # published→updated fallback needs an explicit nullif before the
    # coalesce (round-3 advice: the bare coalesce branch was dead and
    # <updated>-only entries came back with published='').
    published = F.when(
        F.col("kind") == "atom",
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    b, r"(?is)<\s*published\s*>\s*([^<]*?)\s*<", 1),
                F.lit("")),
            F.regexp_extract(b, r"(?is)<\s*updated\s*>\s*([^<]*?)\s*<", 1)),
    ).otherwise(
        F.regexp_extract(b, r"(?is)<\s*pubdate\s*>\s*([^<]*?)\s*<", 1))
    return exploded.select(
        "host", F.col("pos").cast("bigint").alias("pos"), "kind",
        F.regexp_extract(b, r"(?is)<\s*title\s*>\s*([^<]*?)\s*<", 1)
        .alias("title"),
        link.alias("link"),
        published.alias("published"),
    ).filter(F.col("title") != "")


def mix_solver(df: DataFrame, source_col: str, avail_col: str,
               budget: int, rounds: int = 3) -> DataFrame:
    """Deterministic waterfilling of a token budget across sources: start
    from an equal per-source share, cap each source at its available
    tokens, and redistribute the leftover equally among uncapped sources
    for ``rounds`` passes — the static training-mix allocator (the
    degenerate-but-ubiquitous case of mixture optimization: hit a target
    composition without oversampling small sources). Returns
    (source, avail, alloc, capped) with SUM(alloc) <= budget and
    alloc <= avail everywhere.

    Exactness: every share is a truncating BIGINT division of
    non-negative operands, so the allocation is bit-identical in any
    engine and under any partitioning. Shape: the source frame is
    dim-sized (thousands of sources at web scale, not rows), so each
    round is one agg + one broadcast over it; the corpus-sized work
    (computing avail) happens once, upstream, in the caller."""
    alloc = df.select(
        F.col(source_col).alias("src"),
        F.col(avail_col).cast("bigint").alias("avail"),
    ).select(
        "src", "avail",
        F.lit(0).cast("bigint").alias("alloc"),
        F.lit(int(budget)).cast("bigint").alias("leftover"),
    )
    for _ in range(rounds):
        stats = alloc.agg(
            F.max("leftover").alias("lo"),
            F.sum(F.when(F.col("alloc") < F.col("avail"), 1).otherwise(0))
            .cast("bigint").alias("n_open"),
        )
        alloc = (
            alloc.crossJoin(F.broadcast(stats))
            .select(
                "src", "avail",
                (F.col("alloc") + F.least(
                    F.col("avail") - F.col("alloc"),
                    F.when(F.col("alloc") < F.col("avail"),
                           F.expr("lo div greatest(n_open, 1)"))
                    .otherwise(F.lit(0)),
                )).alias("alloc"),
            )
        )
        spent = alloc.agg(F.sum("alloc").cast("bigint").alias("s"))
        alloc = alloc.crossJoin(F.broadcast(spent)).select(
            "src", "avail", "alloc",
            (F.lit(int(budget)).cast("bigint") - F.col("s"))
            .alias("leftover"),
        )
    return alloc.select(
        F.col("src").alias(source_col), "avail", "alloc",
        (F.col("alloc") >= F.col("avail")).cast("int").alias("capped"),
    )


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC AUC of an integer score against a binary label via the
    tie-aware Mann-Whitney rank sum — the one-number eval for every
    quality / dedup / spam scorer in the pipeline, computed without a
    single float: per distinct score value, positives contribute
    (2*cum_below + c_all + 1) doubled-average-ranks, and
    auc_bp = (10000*(2R - n_pos*(n_pos+1))) div (2*n_pos*n_neg).

    Returns one row (n_pos, n_neg, auc_bp). Shape: one (score) histogram
    agg with map-side partials; the rank windows run over the distinct-
    value histogram, never the corpus rows."""
    hist = (
        df.select(F.col(score_col).cast("bigint").alias("s"),
                  F.col(label_col).cast("int").alias("y"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c_all"),
             F.sum("y").alias("c_pos"))
    )
    w = (Window.orderBy("s")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = hist.withColumn("cum", F.sum("c_all").over(w))
    agg = r.agg(
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        (F.sum("c_all") - F.sum("c_pos")).cast("bigint").alias("n_neg"),
        F.sum(F.col("c_pos")
              * (F.lit(2) * (F.col("cum") - F.col("c_all"))
                 + F.col("c_all") + 1)).cast("bigint").alias("r2"),
    )
    return agg.select(
        "n_pos", "n_neg",
        F.expr("CAST((10000 * (r2 - n_pos * (n_pos + 1)))"
               " div (2 * n_pos * n_neg) AS BIGINT)").alias("auc_bp"),
    )


def best_span(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Best contiguous word-span score per document (empty-span floor 0)
    — Kadane's maximum-subarray as ONE sequential codegen'd fold, no
    shuffle, no window: the 'quality spine' extractor that finds the
    best run inside a page whose head/tail are boilerplate. Word score =
    length(word) - 3 (short-word runs drag negative), so the span locks
    onto runs of substantial words.

    The fold is order-dependent by definition (that's Kadane), but the
    per-document array preserves document order, so the result is
    deterministic under any partitioning. The DuckDB twin uses the
    prefix-sum window formulation (max over j of prefix_j - min earlier
    prefix) — different algebra, identical integers. Returns (id,
    n_words, best_score)."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    scores = F.transform(words, lambda w: F.length(w).cast("bigint") - 3)
    acc0 = F.struct(F.lit(0).cast("bigint").alias("best"),
                    F.lit(0).cast("bigint").alias("cur"))
    folded = F.aggregate(
        scores, acc0,
        lambda a, x: F.struct(
            F.greatest(a["best"],
                       F.greatest(F.lit(0).cast("bigint"), a["cur"] + x))
            .alias("best"),
            F.greatest(F.lit(0).cast("bigint"), a["cur"] + x).alias("cur"),
        ),
    )
    return df.select(
        F.col(id_col),
        F.size(words).cast("bigint").alias("n_words"),
        folded["best"].alias("best_score"),
    )


def paragraph_dedup(
    df: DataFrame, id_col: str, text_col: str,
) -> DataFrame:
    """C4-style corpus-wide paragraph deduplication KEEPING the first
    occurrence (Raffel et al., C4: "we removed all but one of any
    three-sentence span occurring more than once"): for every paragraph
    (newline-delimited), exactly one copy survives corpus-wide — the one
    at the smallest (doc, position) — and later copies are dropped. The
    complement of line_dedup, which removes *every* occurrence of a
    cross-document repeated line: line_dedup kills boilerplate outright,
    paragraph_dedup preserves one canonical copy of quoted/syndicated
    prose so the corpus keeps the content without over-counting it.

    Returns (doc, n_paras, n_dropped, clean_text) for every input doc;
    blank paragraphs are structural and always survive.

    Scale shape: the first-occurrence winner is min(struct(doc, pos)) per
    md5(paragraph) — a map-side-combinable MIN over a fixed 32-byte key,
    so the wide exchange ships hashes + two ints, never paragraph text,
    and hot syndicated paragraphs are plain skew-splittable keys. The
    winner join is keyed on the same hash; rebuild is one doc-keyed
    shuffle whose array_sort makes output order partition-invariant.
    At 10^12 docs nothing here is quadratic: one hash-keyed agg, one
    hash-keyed join, one doc-keyed agg."""
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
    paras = base.select(
        "doc", F.posexplode(F.split("text", "\n")).alias("pos", "para"))
    norm = F.lower(F.trim(F.col("para")))
    ph = paras.withColumn("h", F.when(norm != "", F.md5(norm)))
    winners = (
        ph.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min(F.struct("doc", "pos")).alias("w"))
        .select("h", F.col("w.doc").alias("wdoc"), F.col("w.pos").alias("wpos"))
    )
    kept = (
        ph.join(winners, "h", "left")
        .filter(
            F.col("h").isNull()
            | ((F.col("doc") == F.col("wdoc")) & (F.col("pos") == F.col("wpos")))
        )
        .select("doc", "pos", "para")
    )
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select(
            "doc",
            F.size(F.split("text", "\n")).cast("bigint").alias("n_paras"))
        .join(rebuilt, "doc", "left")
        .select(
            "doc",
            "n_paras",
            (F.col("n_paras") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint").alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def soft_dedup_weights(
    df: DataFrame, id_col: str, text_col: str,
) -> DataFrame:
    """SoftDeDup sampling weights (He et al. 2024, "SoftDedup: an
    Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training"): instead of dropping duplicates, every document gets
    a sampling weight inversely proportional to how many near-identical
    copies the corpus holds — weight_micro = floor(1e6 / cluster_size)
    over exact-content clusters (md5 of normalized text). Duplicated
    content still contributes exactly one document's worth of expected
    gradient mass, but no single copy (possibly the best-formatted one)
    is lost. Also emits the corpus' effective size under the weighting.

    Returns (doc, cluster_size, weight_micro) — integer micro-weights so
    the cross-engine comparison is exact, no float fuzz.

    Scale shape: one count per md5 key (map-side combinable, 32-byte
    shuffle rows) and one hash-keyed join back; the weight is a row-local
    projection. The join ships (hash, count), never text."""
    base = df.select(
        F.col(id_col).alias("doc"),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("h"),
    )
    sizes = base.groupBy("h").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        base.join(sizes, "h")
        .select(
            "doc",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            # `div` is exact integer division (DuckDB twin uses `//`) —
            # float `/` + cast would truncate here but ROUND in DuckDB.
            F.expr("1000000L div cluster_size")
            .cast("bigint").alias("weight_micro"),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    bin_micro: int = 1000,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document with the corpus-trained bigram-LM
    self-perplexity (:func:`ngram_lm_score`), then split each language's
    score distribution into head / middle / tail terciles — CCNet keeps
    head+middle for LM training and drops (or down-samples) the tail.

    Bucketing is VALUE-threshold based, not rank based: the per-language
    cut points are the smallest score bins whose cumulative count reaches
    1/3 and 2/3 of the language's scored documents, and every doc compares
    its own bin against those thresholds. Equal scores therefore land in
    the same bucket under any engine and any partitioning (a rank-based
    NTILE would split ties arbitrarily and break the value oracle).

    Returns (doc, lang, score_micro, bucket): ``score_micro`` is exact
    integer micro-nats per bigram term (``(-sum_logp_micro) div n_terms``,
    bigint — lower is more fluent); docs with no bigram (empty / 1-word)
    carry NULL score and NULL bucket, CCNet's drop set.

    Scale shape: the per-doc score is one integer division over
    :func:`ngram_lm_score`'s output; cut points come from a BOUNDED
    histogram — scores quantize to ``bin_micro``-wide bins, so the
    cumulative window runs over a (lang x bins) frame of thousands of rows
    regardless of corpus size, never a per-language sort of the corpus;
    the (lang, cut1, cut2) frame (≤ n_langs rows) broadcasts back onto the
    doc frame. At 10^12 docs the only data-sized exchanges are the ones
    ngram_lm_score already makes (gram-keyed partial counts)."""
    lm = ngram_lm_score(df, id_col, text_col)
    langs = df.select(F.col(id_col).alias("doc"), F.col(lang_col).alias("lang"))
    scored = lm.join(langs, "doc").select(
        "doc",
        "lang",
        "n_terms",
        F.when(
            F.col("n_terms") > 0,
            F.expr("(-sum_logp_micro) div n_terms"),
        ).cast("bigint").alias("score_micro"),
    )
    binned = scored.where(F.col("n_terms") > 0).select(
        "lang", F.expr(f"score_micro div {bin_micro}").alias("bin")
    )
    hist = binned.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    cum_w = (
        Window.partitionBy("lang").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = hist.groupBy("lang").agg(F.sum("cnt").alias("n"))
    cum = hist.withColumn("cum", F.sum("cnt").over(cum_w)).join(
        F.broadcast(tot), "lang"
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("bin"))).alias("cut1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("bin"))).alias("cut2"),
    )
    doc_bin = F.expr(f"score_micro div {bin_micro}")
    return scored.join(F.broadcast(cuts), "lang", "left").select(
        "doc",
        "lang",
        "score_micro",
        F.when(F.col("score_micro").isNull(), F.lit(None).cast("string"))
        .when(doc_bin <= F.col("cut1"), F.lit("head"))
        .when(doc_bin <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def declared_lang_mismatch(
    df: DataFrame,
    id_col: str,
    html_col: str,
    lang_col: str,
    group_col: str,
) -> DataFrame:
    """Declared-vs-detected language audit: parse the ``<html lang="...">``
    attribute (case-insensitive tag/attribute, whitespace around ``=``,
    BCP-47 region subtags like ``en-US`` reduced to their base), compare
    the base subtag against the pipeline's language label, and roll up the
    mismatch rate per ``group_col`` (source / host). Pages that declare a
    language they are not written in are a classic crawl-quality signal —
    template baked-in ``lang="en"`` on translated sites — and CC-style
    curation gates on the DETECTED language, using this rate to audit the
    declared attribute's trustworthiness per host.

    Returns (group, n_docs, n_declared, n_mismatch, mismatch_bp) where
    mismatch_bp is exact integer basis points over the DECLARED subset
    (NULL when nothing declares).

    Scale shape: one zero-shuffle regexp projection inside the scan stage
    plus one group-keyed hash agg with map-side partials; html never
    leaves the scan."""
    declared = F.lower(
        F.regexp_extract(F.col(html_col), r'(?i)<html[^>]*\slang\s*=\s*"([^"]*)"', 1)
    )
    base = F.regexp_extract(declared, r"^[a-z]+", 0)
    rows = df.select(
        F.col(group_col).alias("grp"),
        declared.alias("declared"),
        base.alias("declared_base"),
        F.lower(F.col(lang_col)).alias("lang"),
    )
    agg = rows.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("declared") != "").cast("bigint")).alias("n_declared"),
        F.sum(
            ((F.col("declared") != "") & (F.col("declared_base") != F.col("lang")))
            .cast("bigint")
        ).alias("n_mismatch"),
    )
    return agg.select(
        "grp",
        F.col("n_docs").cast("bigint"),
        F.col("n_declared").cast("bigint"),
        F.col("n_mismatch").cast("bigint"),
        F.when(
            F.col("n_declared") > 0,
            F.expr("n_mismatch * 10000 div n_declared"),
        ).cast("bigint").alias("mismatch_bp"),
    )


def hll_merged_daily(
    df: DataFrame, col: str, day_col: str, b: int = 8
) -> DataFrame:
    """Incremental distinct counting via MERGED HyperLogLog register
    frames — the mergeable-state pattern a 100 TB pipeline uses to keep
    a weekly uniques number without re-reading any day: each group
    (day) aggregates its own 2^b register frame exactly like
    :func:`hll_distinct`, and the ALL row is computed ONLY from those
    per-day registers (MAX per register — the HLL merge operator), never
    from the raw data. exact_distinct per scope rides along as the error
    report.

    Returns one row per day plus scope='ALL':
    (scope, sum_scaled, est_distinct, exact_distinct).

    Scale shape: one (scope, register)-keyed MAX agg (map-side partials
    reduce each partition to days x 2^b rows), one register-keyed MAX for
    the merge (2^b groups), and the literal scope x 2^b fill frame for
    empty registers. The merge stage touches register frames only — the
    snapshot-incremental property under test.

    Estimation applies the Flajolet et al. small-range correction: when
    empty registers remain and the raw harmonic estimate sits under
    2.5m, linear counting (m * ln(m / V), V = zero registers) replaces
    it — without the correction the harmonic form over-reads ~2x at the
    per-day cardinalities small corpora produce. Both engines derive the
    double from the same integer (sum_scaled, n_zero) pair with the same
    operation order, so the value hash holds."""
    m = 1 << b
    shift = 32 - b
    alpha = 0.7213 / (1 + 1.079 / m)
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    parts = df.select(F.col(day_col).alias("scope"), h.alias("h")).select(
        "scope",
        F.expr(f"h div {1 << shift}").alias("j"),
        (F.col("h") % (1 << shift)).alias("rest"),
    )
    rho = (
        F.when(F.col("rest") == 0, F.lit(shift + 1))
        .otherwise(F.lit(shift + 1) - F.length(F.bin("rest")))
    )
    day_regs = parts.select("scope", "j", rho.alias("rho")).groupBy(
        "scope", "j").agg(F.max("rho").alias("mj"))
    merged_regs = day_regs.groupBy("j").agg(F.max("mj").alias("mj")).select(
        F.lit("ALL").alias("scope"), "j", "mj")
    regs = day_regs.unionByName(merged_regs)

    scopes = regs.select("scope").distinct()
    frame = scopes.crossJoin(
        df.sparkSession.range(m).select(F.col("id").alias("j")))
    full = frame.join(regs, ["scope", "j"], "left").select(
        "scope", F.coalesce("mj", F.lit(0)).alias("mj"))
    s = full.groupBy("scope").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 32 - mj)"))
        .cast("bigint").alias("sum_scaled"),
        F.sum((F.col("mj") == 0).cast("bigint")).alias("n_zero"))

    ex_day = df.groupBy(F.col(day_col).alias("scope")).agg(
        F.countDistinct(F.col(col)).alias("exact_distinct"))
    ex_all = df.agg(F.countDistinct(F.col(col)).alias("exact_distinct")).select(
        F.lit("ALL").alias("scope"), "exact_distinct")
    exact = ex_day.unionByName(ex_all)

    amm = alpha * m * m
    raw = F.lit(amm) / (F.col("sum_scaled").cast("double")
                        / F.lit(float(1 << 32)))
    linear = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("n_zero").cast("double"))
    est = F.when((F.col("n_zero") > 0) & (raw < F.lit(2.5 * m)), linear) \
        .otherwise(raw)
    return s.join(exact, "scope").select(
        "scope",
        "sum_scaled",
        F.col("n_zero").cast("bigint").alias("n_zero"),
        F.round(est, 2).alias("est_distinct"),
        F.col("exact_distinct").cast("bigint"),
    )


def html_lists(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """HTML list extraction — per-page ``<ul>``/``<ol>``/``<li>`` stats
    plus the first item's leading text, the structural sibling of
    ``html_tables``/``html_headings``.

    Item text is the run of characters from the ``<li>`` tag up to the
    next markup (the regexp path's documented simplification — an item
    that OPENS with inline markup contributes an empty text; full inner
    flattening belongs to the stage-A DOM parser). Empty first items
    surface as NULL so downstream don't mistake markup-first lists for
    empty ones.

    Pure codegen'd regexp projection: zero shuffle, fuses into the scan,
    ``html`` pruned in-stage."""
    html = F.col(html_col)
    items = F.regexp_extract_all(
        html, F.lit(r"(?is)<li[^>]*>\s*([^<]*)"), F.lit(1))
    first = F.trim(F.regexp_extract(html, r"(?is)<li[^>]*>\s*([^<]*)", 1))
    return df.select(
        F.col(id_col).alias("doc"),
        F.size(F.regexp_extract_all(
            html, F.lit(r"(?is)<ul[^>]*>"), F.lit(0)))
        .cast("bigint").alias("n_ul"),
        F.size(F.regexp_extract_all(
            html, F.lit(r"(?is)<ol[^>]*>"), F.lit(0)))
        .cast("bigint").alias("n_ol"),
        F.size(items).cast("bigint").alias("n_items"),
        F.nullif(first, F.lit("")).alias("first_item"),
        F.aggregate(
            items, F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.length(F.trim(x)))
        .alias("sum_item_chars"),
    )


def meta_refresh(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """``<meta http-equiv="refresh">`` parsing — the client-side redirect
    channel invisible to HTTP-level redirect resolution (``resolve_urls``
    / ``redirect_resolve`` handle 3xx chains; spam and parked domains
    hide behind meta refresh instead). Emits the declared delay seconds
    and the target URL; a refresh with no ``url=`` clause (pure reload)
    yields a delay with NULL target.

    Attribute order handled both ways via the shared paired-attr
    extractor; zero shuffle."""
    html = F.col(html_col)
    content = _paired_attr(html, "meta", "http-equiv", "refresh", "content")
    delay = F.regexp_extract(content, r"^\s*([0-9]+)", 1)
    target = F.regexp_extract(content, r"(?i)url\s*=\s*([^\"'\s;]+)", 1)
    return df.select(
        F.col(id_col).alias("doc"),
        (content != "").cast("int").alias("has_refresh"),
        F.nullif(delay, F.lit("")).cast("bigint").alias("refresh_delay_s"),
        F.nullif(target, F.lit("")).alias("refresh_target"),
    )


def srcset_best(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Responsive-image ``srcset`` resolution — pick the highest-width
    candidate per page, the variant a multimodal corpus builder should
    fetch. Parses width descriptors (``url 800w``); density descriptors
    (``2x``) carry no absolute size and are ignored, so a page whose
    srcset is density-only (or absent) emits no row.

    Shape: the per-page candidate fan-out is bounded by the page's own
    srcset length; the argmax is a struct-MAX aggregate keyed on the doc
    id (map-side partials, no per-group sort, no window)."""
    html = F.col(html_col)
    ss = F.regexp_extract(html, r'(?i)srcset\s*=\s*"([^"]*)"', 1)
    pat = r"([^\s,]+)\s+([0-9]+)w"
    ex = df.select(
        F.col(id_col).alias("doc"),
        F.regexp_extract_all(ss, F.lit(pat), F.lit(2)).alias("ws"),
        F.posexplode(F.regexp_extract_all(ss, F.lit(pat), F.lit(1)))
        .alias("i", "url"),
    )
    cand = ex.select(
        "doc", "url",
        F.col("ws")[F.col("i")].cast("bigint").alias("w"))
    return (
        cand.groupBy("doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
             F.max(F.struct(F.col("w"), F.col("url"))).alias("m"))
        .select("doc", "n_candidates",
                F.col("m.url").alias("best_url"),
                F.col("m.w").alias("best_width"))
    )


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, group_col: str = "event_type"
) -> DataFrame:
    """Deterministic KMV (k-minimum-values / bottom-k) distinct sketch
    (Bar-Yossef et al. 2002): hash every value to a uniform 32-bit
    integer (md5-derived, engine-portable), keep the k smallest DISTINCT
    hashes, and estimate cardinality as (k−1)·2³² / h_k where h_k is the
    k-th smallest hash — the unbiased KMV estimator, all-integer until
    nothing (the division itself is integer: exact enough at k=256 and
    bit-identical across engines). Fewer than k distinct hashes means
    the sketch IS the exact distinct set and the estimate degenerates to
    that count.

    The same row also carries the MERGE demonstration that makes KMV the
    practical cross-shard distinct sketch: per-event-type bottom-k
    sketches are unioned and re-bottomed, and est_merged provably equals
    est_distinct (any globally bottom-k hash is bottom-k within its own
    group — the union never loses one).

    Scale shape: the distinct-hash projection is one hash-keyed
    distinct; the bottom-k is a distributed TakeOrdered (per-partition
    top-k then a k-row merge on the driver side of the plan), never a
    global sort materialized; the per-group variant is one window over
    group-local hashes. exact_distinct rides along for the error report
    — at production scale it is the column you drop.

    Returns one row: (k, n_kept, kth_hash, est_distinct, est_merged,
    exact_distinct).
    """
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    hs = df.select(h.alias("h")).distinct()
    bot = hs.orderBy("h").limit(k)
    agg = bot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("h").cast("bigint").alias("kth_hash"),
    )
    per = (
        df.select(F.col(group_col).alias("g"), h.alias("h"))
        .distinct()
        .select(
            "h",
            F.row_number()
            .over(Window.partitionBy("g").orderBy("h"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= k)
        .select("h")
        .distinct()
    )
    mbot = per.orderBy("h").limit(k)
    magg = mbot.agg(
        F.count(F.lit(1)).cast("bigint").alias("mn"),
        F.max("h").cast("bigint").alias("mkth"),
    )
    exact = df.agg(
        F.countDistinct(col).cast("bigint").alias("exact_distinct"))
    est = (
        f"CASE WHEN n_kept < {k} THEN n_kept"
        f" ELSE {k - 1} * 4294967296 div kth_hash END"
    )
    mest = (
        f"CASE WHEN mn < {k} THEN mn"
        f" ELSE {k - 1} * 4294967296 div mkth END"
    )
    return (
        agg.crossJoin(F.broadcast(magg))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            "n_kept",
            "kth_hash",
            F.expr(est).cast("bigint").alias("est_distinct"),
            F.expr(mest).cast("bigint").alias("est_merged"),
            "exact_distinct",
        )
    )
