"""Text quality and corpus curation over ``documents``: word stats,
language ID, quality filters (C4, Gopher, CCNet), normalizers, content-type
detectors, tokenization, sampling, mixing and packing — the operators a
training-data pipeline runs between extraction and packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark import config as C
from ocr_spark.casespec import case_col, case_sql
from ocr_spark.functions.wordstats import split_words
from ocr_spark.oracle_sql import dbl
from ocr_spark.queries.extraction import _STOP_SQL
from ocr_spark.queries.registry import (
    ORACLE,
    _DOC_ID,
    _TEXT,
    _cents,
    _cpu,
    _docs,
    _docs_sql,
    _t,
    query,
)


_LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "et", "une", "dans"],
}
_LANG_PRIORITY = ["en", "es", "de", "fr"]


def _lang_id_oracle() -> str:
    score_sqls = {
        lang: (
            f"len(list_filter(words, w -> lower(w) IN "
            f"({', '.join(chr(39) + m + chr(39) for m in markers)})))"
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    mx = "greatest(" + ", ".join(score_sqls[lang] for lang in _LANG_PRIORITY) + ")"
    chain = "CASE WHEN " + mx + " = 0 THEN 'unknown'"
    for lang in _LANG_PRIORITY[:-1]:
        chain += f" WHEN {score_sqls[lang]} = {mx} THEN '{lang}'"
    chain += f" ELSE '{_LANG_PRIORITY[-1]}' END"
    scores = ", ".join(
        f"CAST({score_sqls[lang]} AS BIGINT) AS score_{lang}" for lang in _LANG_PRIORITY
    )
    return f"""
    WITH w AS (
      SELECT doc_id, lang AS labeled_lang,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS words
      FROM documents)
    SELECT doc_id, labeled_lang, {chain} AS predicted_lang, {scores} FROM w
    """


@query("lang_id", _lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family) with argmax."""
    words = split_words(F.col("text"))

    def _marker_filter(markers: list[str]):
        # closure factory, not default-arg lambda (HOF introspection pitfall)
        return lambda w: F.lower(w).isin(markers)

    scores = {
        lang: F.size(F.filter(words, _marker_filter(markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    mx = F.greatest(*[scores[lang] for lang in _LANG_PRIORITY])
    pred = F.when(mx == 0, F.lit("unknown"))
    for lang in _LANG_PRIORITY[:-1]:
        pred = pred.when(scores[lang] == mx, F.lit(lang))
    pred = pred.otherwise(F.lit(_LANG_PRIORITY[-1]))
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        *[scores[lang].cast("bigint").alias(f"score_{lang}") for lang in _LANG_PRIORITY],
    )


def _doc_quality_oracle() -> str:
    n_tok = "len(string_split_regex(trim(text), '\\s+'))"
    stop_ratio = (
        f"(len(list_filter(string_split_regex(trim(text), '\\s+'), "
        f"w -> lower(w) IN ({_STOP_SQL}))) / {n_tok})"
    )
    punct_ratio = "(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) / length(text))"
    len_score = f"least({dbl(1.0)}, length(text) / {dbl(500.0)})"
    composite = (
        f"({dbl(0.4)} * {len_score} + {dbl(0.3)} * ({dbl(1.0)} - {punct_ratio}) "
        f"+ {dbl(0.3)} * least({dbl(1.0)}, {stop_ratio} * {dbl(10.0)}))"
    )
    return f"""
    SELECT doc_id,
           {composite} AS quality_score,
           CASE WHEN {composite} >= {dbl(0.8)} THEN 'high'
                WHEN {composite} >= {dbl(0.5)} THEN 'medium' ELSE 'low' END AS quality_band
    FROM documents WHERE length(trim(text)) > 0
    """


@query("doc_quality", _doc_quality_oracle())
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality score: length / punctuation / stopword-ratio composite.

    Both engines filter on length(trim(text)) > 0: on whitespace-only text
    Spark's split_words yields [] (NULL composite) while DuckDB's
    string_split_regex yields [''] — excluding those rows identically keeps
    the value hash stable for any corpus (ADVICE r1)."""
    text = F.col("text")
    words = split_words(text)
    n_tok = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda w: F.lower(w).isin(C.STOPWORDS))) / n_tok
    punct_ratio = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", "")) / F.length(text)
    len_score = F.least(F.lit(1.0), F.length(text) / F.lit(500.0))
    composite = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), stop_ratio * F.lit(10.0))
    )
    return (
        _cpu(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            composite.alias("quality_score"),
            F.when(composite >= 0.8, F.lit("high"))
            .when(composite >= 0.5, F.lit("medium"))
            .otherwise(F.lit("low"))
            .alias("quality_band"),
        )
    )


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS BIGINT) AS canon_len
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized content fingerprint (case/punct/ws-insensitive md5)."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.length(canon).cast("bigint").alias("canon_len"),
    )


_PII_SUFFIX = (
    " contact sales.lead@example.org or +91 98765 43210 ref 2345 6789 0123"
)


def _pii_oracle() -> str:
    from ocr_spark.functions.curation import PII_PATTERNS

    expr = "noisy"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({expr}, '{pat}'))")
        expr = f"regexp_replace({expr}, '{pat}', '[{name.upper()}]', 'g')"
    n = " + ".join(counts)
    return f"""
    WITH src AS (SELECT doc_id, text || '{_PII_SUFFIX}' AS noisy FROM documents)
    SELECT doc_id, {expr} AS scrubbed, CAST({n} AS BIGINT) AS n_redactions
    FROM src
    """


@query("pii_scrub", _pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrubbing: typed redaction of emails / phones /
    12-digit ids — a pure codegen'd regexp projection (no shuffle)."""
    from ocr_spark.functions.curation import pii_scrub

    noisy = F.concat(F.col("text"), F.lit(_PII_SUFFIX))
    scrubbed, n = pii_scrub(noisy)
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id", scrubbed.alias("scrubbed"), n.cast("bigint").alias("n_redactions")
    )


_WORDS_CTE = """
    base AS (
      SELECT doc_id AS doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words
      FROM documents)
"""


def _trigrams_cte(name: str) -> str:
    """CTE ``name``: the distinct (doc, gram) word trigrams of
    ``_WORDS_CTE``'s ``base``."""
    return f"""{name} AS (
      SELECT DISTINCT doc, gram FROM (
        SELECT doc,
               unnest(list_transform(generate_series(1, len(words) - 2),
                                     i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
        FROM base))"""


def _lower_words() -> Column:
    """Spark twin of ``_WORDS_CTE``'s words: the lowercased, trimmed
    ``text`` split on whitespace; an empty text gives an empty array."""
    text = F.trim(F.col("text"))
    return F.when(
        F.length(text) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(text), r"\s+"))


def _lm_oracle() -> str:
    return f"""
    WITH {_WORDS_CTE.strip()},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    uni AS (SELECT w, COUNT(*) AS c1 FROM flat GROUP BY w),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    bgl AS (
      SELECT doc,
             list_transform(generate_series(1, len(words) - 1), i -> words[i]) AS w1s,
             list_transform(generate_series(1, len(words) - 1),
                            i -> words[i] || ' ' || words[i + 1]) AS bgs
      FROM base),
    bigrams AS (SELECT doc, unnest(w1s) AS w1, unnest(bgs) AS bg FROM bgl),
    big AS (SELECT bg, COUNT(*) AS c2 FROM bigrams GROUP BY bg),
    terms AS (
      SELECT b.doc,
             CAST(ROUND(ln((big.c2 + 1) / (uni.c1 + vocab.v)) * 1000000) AS BIGINT) AS t
      FROM bigrams b JOIN big USING (bg) JOIN uni ON uni.w = b.w1 CROSS JOIN vocab),
    per_doc AS (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(t) AS BIGINT) AS sum_logp_micro
      FROM terms GROUP BY doc)
    SELECT b.doc, COALESCE(p.n_terms, 0) AS n_terms,
           COALESCE(p.sum_logp_micro, 0) AS sum_logp_micro,
           CASE WHEN p.n_terms IS NOT NULL THEN
             ROUND(exp(-p.sum_logp_micro / p.n_terms / CAST(1000000 AS DOUBLE)), 6)
           END AS ppl
    FROM (SELECT doc FROM base) b LEFT JOIN per_doc p USING (doc)
    """


@query("ngram_lm_score", _lm_oracle())
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM self-perplexity quality score (CCNet/Gopher-style filter):
    corpus-trained counts, add-one smoothing, exact BIGINT micro-nat sums
    so the per-doc aggregate is order-free cross-engine."""
    from ocr_spark.functions.curation import ngram_lm_score

    return ngram_lm_score(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "repetition_stats",
    f"""
    WITH {_WORDS_CTE},
    g AS (
      SELECT doc, 1 AS n, unnest(words) AS gram FROM base
      UNION ALL
      SELECT doc, 2 AS n,
             unnest(list_transform(generate_series(1, len(words) - 1),
                                   i -> words[i] || ' ' || words[i + 1])) AS gram
      FROM base
      UNION ALL
      SELECT doc, 3 AS n,
             unnest(list_transform(generate_series(1, len(words) - 2),
                                   i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
      FROM base),
    c AS (SELECT doc, n, gram, COUNT(*) AS c FROM g GROUP BY doc, n, gram),
    s AS (SELECT doc, n, SUM(c) AS total, MAX(c) AS mx,
                 SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
          FROM c GROUP BY doc, n),
    p AS (SELECT doc,
                 MAX(CASE WHEN n = 1 THEN total END) AS n1,
                 MAX(CASE WHEN n = 1 THEN mx END) AS mx1,
                 MAX(CASE WHEN n = 2 THEN total END) AS n2,
                 MAX(CASE WHEN n = 2 THEN mx END) AS mx2,
                 MAX(CASE WHEN n = 3 THEN total END) AS n3,
                 MAX(CASE WHEN n = 3 THEN dup END) AS d3
          FROM s GROUP BY doc)
    SELECT b.doc, CAST(COALESCE(n1, 0) AS BIGINT) AS n_words,
           ROUND(CAST(mx1 AS DOUBLE) / n1, 6) AS max_word_frac,
           ROUND(CAST(mx2 AS DOUBLE) / n2, 6) AS top_bigram_frac,
           ROUND(CAST(d3 AS DOUBLE) / n3, 6) AS dup_trigram_frac
    FROM (SELECT doc FROM base) b LEFT JOIN p USING (doc)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (max-word / top-bigram / duplicated-
    trigram fractions) per document — the stuffing/boilerplate detector of
    a training-data quality pass."""
    from ocr_spark.functions.curation import repetition_stats

    return repetition_stats(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "corpus_dup_ngrams",
    f"""
    WITH {_WORDS_CTE},
    {_trigrams_cte("g")},
    freq AS (SELECT gram, COUNT(*) AS dfreq FROM g GROUP BY gram),
    p AS (SELECT doc, COUNT(*) AS n_grams,
                 SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS n_shared
          FROM g JOIN freq USING (gram) GROUP BY doc)
    SELECT b.doc, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(CAST(n_shared AS DOUBLE) / n_grams, 6) AS shared_frac
    FROM (SELECT doc FROM base) b LEFT JOIN p USING (doc)
    """,
)
def q_corpus_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level boilerplate: per-document fraction of distinct
    trigrams shared with at least one other document."""
    from ocr_spark.functions.curation import corpus_dup_ngrams

    return corpus_dup_ngrams(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", n=3, min_docs=2)


@query(
    "unigram_kl",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    tf AS (SELECT doc, w, COUNT(*) AS tf FROM flat GROUP BY doc, w),
    cf AS (SELECT w, COUNT(*) AS cf FROM flat GROUP BY w),
    tot AS (SELECT COUNT(*) AS t FROM flat),
    dl AS (SELECT doc, CAST(len(words) AS BIGINT) AS dl FROM base),
    per AS (
      SELECT tf.doc,
             CAST(SUM(tf.tf * CAST(round(
               ln(CAST(tf.tf * t.t AS DOUBLE) / (dl.dl * cf.cf)) * 1000000)
               AS BIGINT)) AS BIGINT) AS kl_micro
      FROM tf JOIN cf USING (w) JOIN dl ON dl.doc = tf.doc CROSS JOIN tot t
      GROUP BY tf.doc)
    SELECT d.doc, d.dl AS n_tokens,
           CAST(COALESCE(p.kl_micro, 0) AS BIGINT) AS kl_micro,
           CASE WHEN d.dl > 0
                THEN CAST(p.kl_micro AS DOUBLE) / d.dl
                     / CAST(1000000 AS DOUBLE) END AS kl
    FROM dl d LEFT JOIN per p USING (doc)
    """,
)
def q_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document KL divergence from the corpus unigram distribution —
    the model-free domain-shift / outlier signal, in exact integer
    micro-nats (order-free per-doc sums)."""
    from ocr_spark.functions.curation import unigram_kl

    return unigram_kl(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dsir_select",
    f"""
    WITH base AS (
      SELECT doc_id AS doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
      FROM documents),
    flat AS (SELECT doc, is_t, unnest(words) AS w FROM base),
    tf AS (SELECT doc, w, COUNT(*) AS tf, MAX(is_t) AS is_t
           FROM flat GROUP BY doc, w),
    ws AS (SELECT w, SUM(tf) AS cf_r,
                  SUM(CASE WHEN is_t = 1 THEN tf ELSE 0 END) AS cf_t
           FROM tf GROUP BY w),
    tot AS (SELECT SUM(cf_r) AS tr, SUM(cf_t) AS tt, COUNT(*) AS v FROM ws),
    rated AS (
      SELECT w, CAST(round(ln(
               CAST((cf_t + 1) * (tr + v) AS DOUBLE)
               / ((cf_r + 1) * (tt + v))) * 1000000) AS BIGINT) AS mic
      FROM ws CROSS JOIN tot),
    per AS (SELECT tf.doc, CAST(SUM(tf.tf * rated.mic) AS BIGINT) AS logw_micro
            FROM tf JOIN rated USING (w) GROUP BY tf.doc),
    scored AS (
      SELECT b.doc, CAST(len(b.words) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.logw_micro, 0) AS BIGINT) AS logw_micro
      FROM base b LEFT JOIN per p USING (doc)),
    kk AS (SELECT CAST(ceil(COUNT(*) * 0.1) AS BIGINT) AS k FROM scored)
    SELECT doc, n_tokens, logw_micro, CAST(rk AS BIGINT) AS rk
    FROM (SELECT doc, n_tokens, logw_micro,
                 ROW_NUMBER() OVER (ORDER BY logw_micro DESC, doc) AS rk
          FROM scored) CROSS JOIN kk
    WHERE rk <= k
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-resampling selection: fit target (lang='en')
    vs raw unigram LMs with add-1 smoothing, weight every document by its
    exact integer micro-nat log importance ratio, keep the top 10% — the
    published data-selection recipe (Xie et al. 2023) as one lazy Spark
    program with a distributed sort-limit top-k."""
    from ocr_spark.functions.curation import dsir_select

    return dsir_select(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        is_target=F.col("lang") == "en", frac=0.1,
    )


@query(
    "weighted_sample",
    f"""
    WITH {_WORDS_CTE},
    scored AS (
      SELECT doc, CAST(len(words) AS BIGINT) AS weight,
             CASE WHEN len(words) > 0 THEN CAST(round(
               ln((('0x' || substr(md5(CAST(doc AS VARCHAR) || ':aes'), 1, 8))::BIGINT + 1)
                  / CAST(4294967296 AS DOUBLE))
               / len(words) * 1000000) AS BIGINT) END AS key_micro
      FROM base),
    top AS (
      SELECT doc, weight, key_micro,
             ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc) AS rk
      FROM scored WHERE key_micro IS NOT NULL)
    SELECT doc, weight, key_micro, CAST(rk AS BIGINT) AS rk
    FROM top WHERE rk <= 50
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES keys from md5 uniforms): 50 docs drawn proportional to
    word count, reproducible across engines and partitionings — the
    weight-proportional member of the sampling family."""
    from ocr_spark.functions.curation import weighted_sample

    d = _t(spark, sf_dir, "documents")
    words = _lower_words()
    base = d.select("doc_id", F.size(words).cast("bigint").alias("n_words"))
    return weighted_sample(base, "doc_id", F.col("n_words"), k=50)


@query(
    "gopher_rules",
    f"""
    WITH {_WORDS_CTE},
    m AS (
      SELECT doc, CAST(len(words) AS BIGINT) AS n_words,
             CASE WHEN len(words) > 0 THEN ROUND(
               CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
               / len(words), 6) END AS mean_wlen,
             CASE WHEN len(words) > 0 THEN ROUND(
               CAST(len(list_filter(words,
                 w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
               / len(words), 6) END AS alpha_frac,
             CAST(len(list_filter(words, w -> w IN ({_STOP_SQL})))
                  AS BIGINT) AS n_stop
      FROM base),
    p AS (
      SELECT *,
             (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
             (mean_wlen IS NOT NULL AND mean_wlen >= 3.0
              AND mean_wlen <= 10.0) AS pass_mean_wlen,
             (alpha_frac IS NOT NULL AND alpha_frac >= 0.8) AS pass_alpha,
             (n_stop >= 2) AS pass_stopwords
      FROM m)
    SELECT doc, n_words, mean_wlen, alpha_frac, n_stop,
           pass_word_count, pass_mean_wlen, pass_alpha, pass_stopwords,
           (pass_word_count AND pass_mean_wlen AND pass_alpha
            AND pass_stopwords) AS keep
    FROM p
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher word-level quality gate (Rae et al. 2021 Table A1): word
    count, mean word length, alphabetic-word fraction, and stop-word
    presence, each reported as a flag beside its signal plus the
    conjunctive keep — a zero-shuffle HOF projection."""
    from ocr_spark.functions.curation import gopher_rules

    return gopher_rules(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


_C4_SQL = """
    SELECT doc_id,
           array_to_string(
             ['home | about | contact edition ' || CAST(doc_id % 5 AS VARCHAR)]
             || list_transform(
                  generate_series(1, CAST(ceil(len(words) / 10.0) AS INT)),
                  i -> array_to_string(words[(i-1)*10+1 : (i-1)*10+10], ' ')
                       || CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END)
             || CASE WHEN doc_id % 5 = 0
                     THEN ['please enable javascript to view this page.']
                     ELSE CAST([] AS VARCHAR[]) END
             || CASE WHEN doc_id % 11 = 0
                     THEN ['Lorem ipsum dolor sit amet.']
                     ELSE CAST([] AS VARCHAR[]) END
             || CASE WHEN doc_id % 13 = 0
                     THEN ['function() { return 1; }']
                     ELSE CAST([] AS VARCHAR[]) END,
             chr(10)) AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""


def _c4_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-page fixture for the C4 line filter: word chunks as lines with
    deterministic terminal punctuation, a nav header, and per-id-residue
    javascript / lorem-ipsum / code-brace pollution lines."""
    d = _cpu(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), nchunks),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(words, (i - 1) * 10 + 1, 10)),
            F.when(((F.col("doc_id") + i) % 3) != 0, F.lit(".")).otherwise(
                F.lit("")),
        ),
    )
    header = F.concat(
        F.lit("home | about | contact edition "),
        (F.col("doc_id") % 5).cast("string"),
    )
    empty = F.array().cast("array<string>")
    maybe = lambda cond, s: F.when(cond, F.array(F.lit(s))).otherwise(empty)
    lines = F.concat(
        F.array(header),
        chunks,
        maybe(F.col("doc_id") % 5 == 0,
              "please enable javascript to view this page."),
        maybe(F.col("doc_id") % 11 == 0, "Lorem ipsum dolor sit amet."),
        maybe(F.col("doc_id") % 13 == 0, "function() { return 1; }"),
    )
    return d.select("doc_id", F.array_join(lines, "\n").alias("text"))


@query(
    "c4_filter",
    f"""
    WITH ml AS ({_C4_SQL}),
    lx AS (SELECT doc_id AS doc, text AS t,
                  string_split(text, chr(10)) AS ls FROM ml),
    k AS (
      SELECT doc, t, ls,
             list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
                              AND len(string_split_regex(trim(l), '\\s+')) >= 3
                              AND NOT contains(lower(l), 'javascript')) AS kept
      FROM lx),
    d AS (
      SELECT doc, CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             (NOT (contains(lower(t), 'lorem ipsum') OR contains(t, '{{'))
              AND len(kept) >= 3) AS keep,
             kept
      FROM k)
    SELECT doc, n_lines, n_kept, keep,
           CASE WHEN keep THEN array_to_string(kept, chr(10))
                ELSE '' END AS clean_text
    FROM d
    """,
)
def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level page cleaning (Raffel et al. 2020 §2.2) over the
    multi-line web-page fixture: terminal-punctuation and min-word line
    retention, javascript-line removal, lorem-ipsum / curly-brace page
    discard, min-surviving-lines gate, and page rebuild."""
    from ocr_spark.functions.curation import c4_filter

    return c4_filter(_c4_docs(spark, sf_dir), "doc_id", "text")


@query(
    "char_entropy",
    """
    WITH base AS (SELECT doc_id AS doc, trim(text) AS t FROM documents),
    cx AS (
      SELECT doc, length(t) AS n,
             CASE WHEN length(t) > 0 THEN
               list_transform(generate_series(1, length(t)),
                              i -> substr(t, i, 1))
             ELSE CAST([] AS VARCHAR[]) END AS cs
      FROM base),
    fl AS (SELECT doc, n, unnest(cs) AS c FROM cx),
    cnts AS (SELECT doc, c, COUNT(*) AS cnt, ANY_VALUE(n) AS n
             FROM fl GROUP BY doc, c),
    s AS (
      SELECT doc,
             SUM(cnt * CAST(round(ln(CAST(n AS DOUBLE) / cnt) * 1000000)
                            AS BIGINT)) AS hm
      FROM cnts GROUP BY doc)
    SELECT c.doc, CAST(c.n AS BIGINT) AS n_chars,
           CAST(COALESCE(s.hm, 0) AS BIGINT) AS h_micro,
           CASE WHEN c.n > 0 THEN
             CAST(s.hm AS DOUBLE) / c.n / 1000000 END AS entropy
    FROM cx c LEFT JOIN s USING (doc)
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (exact integer
    micro-nats, zero-Exchange run-length HOF scan) — the gibberish /
    encoding-garbage detector beside the word-level quality signals."""
    from ocr_spark.functions.curation import char_entropy

    return char_entropy(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


_RECRAWL_TEXT = ([_TEXT, " updated"],) + ([_TEXT],) * 6
_RECRAWL_SQL = f"""
      SELECT doc_id, {case_sql('doc_id', _RECRAWL_TEXT)} AS text
      FROM documents WHERE doc_id % 13 != 0
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
"""


def _recrawl(old: DataFrame) -> DataFrame:
    """Spark twin of ``_RECRAWL_SQL``: a perturbed recrawl of ``old``."""
    k = F.col("doc_id")
    return old.filter(k % 13 != 0).select(
        "doc_id", case_col(k, _RECRAWL_TEXT).alias("text"),
    ).unionByName(
        old.filter(k % 17 == 0).select((k + 500000).alias("doc_id"), "text"))


@query(
    "snapshot_diff",
    f"""
    WITH newt AS ({_RECRAWL_SQL}),
    j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc, o.text AS ot, n.text AS nt
          FROM documents o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id)
    SELECT doc,
           CASE WHEN ot IS NULL THEN 'added'
                WHEN nt IS NULL THEN 'removed'
                WHEN ot = nt THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM j
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff against a deterministically perturbed recrawl
    (every 7th doc edited, every 13th dropped, every 17th re-added under a
    new id): added / removed / changed / unchanged per doc id, joined on
    fixed-width content hashes so text never crosses the shuffle."""
    from ocr_spark.functions.curation import snapshot_diff

    old = _t(spark, sf_dir, "documents")
    return snapshot_diff(old, _recrawl(old), "doc_id", "text")


@query(
    "crawl_merge",
    f"""
    WITH newt AS ({_RECRAWL_SQL}),
    oh AS (SELECT doc_id AS k, md5(text) AS oh FROM documents),
    nh AS (SELECT doc_id AS k, md5(text) AS nh FROM newt),
    j AS (SELECT COALESCE(oh.k, nh.k) AS k, oh.oh, nh.nh
          FROM oh FULL OUTER JOIN nh ON oh.k = nh.k)
    SELECT k AS doc,
           CASE WHEN oh IS NULL THEN 'inserted'
                WHEN nh IS NULL THEN 'retained'
                WHEN oh = nh THEN 'unchanged'
                ELSE 'updated' END AS action,
           COALESCE(nh, oh) AS content_hash
    FROM j
    """,
)
def q_crawl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO upsert of a perturbed recrawl into the crawl table
    (insert / update / unchanged / retained per row, hash-projected join)
    — the incremental-ingest counterpart of snapshot_diff."""
    from ocr_spark.functions.curation import merge_upsert

    old = _t(spark, sf_dir, "documents")
    return merge_upsert(old, _recrawl(old), "doc_id", "text")


@query(
    "pack_shards",
    f"""
    WITH {_WORDS_CTE},
    b AS (
      SELECT doc,
             ('0x' || substr(md5('shard:v1:' || CAST(doc AS VARCHAR)), 1, 8))::BIGINT % 16
               AS bucket,
             CAST(len(words) AS BIGINT) AS n_tokens
      FROM base),
    c AS (
      SELECT doc, bucket, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM b)
    SELECT doc, bucket, n_tokens,
           CAST(bucket * 4294967296 + CAST(FLOOR(CAST(cum_before AS DOUBLE) / 5000) AS BIGINT) AS BIGINT) AS shard
    FROM c
    """,
)
def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget shard packing (5k tokens/shard, 16 hash buckets at
    this test scale): per-bucket windows only — no global sort anywhere."""
    from ocr_spark.functions.curation import pack_shards

    return pack_shards(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        tokens_per_shard=5000, n_buckets=16)


# Deterministic multi-line web-page twin of `documents`: a template header
# (5 variants) and footer (3 variants) around the document text re-wrapped
# into 10-word content lines — the line-structured corpus the line-level
# boilerplate ops run on. Built identically in both engines.
_MULTILINE_SQL = """
    SELECT doc_id,
           'home | about | contact | edition ' || CAST(doc_id % 5 AS VARCHAR)
           || chr(10) ||
           array_to_string(
             list_transform(
               generate_series(1, CAST(ceil(len(words) / 10.0) AS INT)),
               i -> array_to_string(words[(i-1)*10+1 : (i-1)*10+10], ' ')),
             chr(10))
           || chr(10) ||
           '(c) 2024 site' || CAST(doc_id % 3 AS VARCHAR)
           || ' all rights reserved' AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""


def _multiline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cpu(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), nchunks),
        lambda i: F.concat_ws(" ", F.slice(words, (i - 1) * 10 + 1, 10)),
    )
    header = F.concat(
        F.lit("home | about | contact | edition "),
        (F.col("doc_id") % 5).cast("string"),
    )
    footer = F.concat(
        F.lit("(c) 2024 site"), (F.col("doc_id") % 3).cast("string"),
        F.lit(" all rights reserved"),
    )
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n", header, F.array_join(chunks, "\n"), footer).alias("text"),
    )


@query(
    "line_dedup",
    f"""
    WITH ml AS ({_MULTILINE_SQL}),
    lx AS (SELECT doc_id AS doc, string_split(text, chr(10)) AS ls FROM ml),
    lines AS (
      SELECT doc, u.pos AS pos, u.line AS line
      FROM (SELECT doc,
                   unnest(list_transform(generate_series(1, len(ls)),
                                         i -> {{'pos': i, 'line': ls[i]}})) AS u
            FROM lx)),
    n AS (SELECT doc, pos, line,
                 CASE WHEN lower(trim(line)) = '' THEN NULL
                      ELSE md5(lower(trim(line))) END AS h
          FROM lines),
    freq AS (SELECT h, COUNT(*) AS dfreq
             FROM (SELECT DISTINCT doc, h FROM n WHERE h IS NOT NULL)
             GROUP BY h HAVING COUNT(*) >= 5),
    kept AS (SELECT n.doc, n.pos, n.line FROM n LEFT JOIN freq USING (h)
             WHERE dfreq IS NULL),
    reb AS (SELECT doc, COUNT(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc)
    SELECT l.doc, CAST(len(l.ls) AS BIGINT) AS n_lines,
           CAST(len(l.ls) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.clean_text, '') AS clean_text
    FROM lx l LEFT JOIN reb r USING (doc)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal over the
    multi-line web-page corpus: lines whose normalized form appears in >= 5
    documents (the template headers/footers) are dropped; each document is
    rebuilt from its surviving lines in original order."""
    from ocr_spark.functions.curation import line_dedup

    return line_dedup(_multiline_docs(spark, sf_dir), "doc_id", "text",
                      min_docs=5)


@query(
    "tfidf_topk",
    f"""
    WITH {_WORDS_CTE},
    nd AS (SELECT COUNT(*) AS n FROM base),
    tf AS (SELECT doc, w AS term, COUNT(*) AS tf
           FROM (SELECT doc, unnest(words) AS w FROM base) GROUP BY doc, w),
    dfq AS (SELECT term, COUNT(*) AS df
            FROM (SELECT doc, unnest(list_distinct(words)) AS term FROM base)
            GROUP BY term),
    scored AS (
      SELECT doc, term, tf,
             tf * CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)
               AS score_micro
      FROM tf JOIN dfq USING (term) CROSS JOIN nd)
    SELECT doc, term, CAST(tf AS BIGINT) AS tf, score_micro,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT doc, term, tf, score_micro,
                 ROW_NUMBER() OVER (PARTITION BY doc
                                    ORDER BY score_micro DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF (exact micro-nat
    scores, term-ascending tie-break) — keyword extraction over the
    documents table."""
    from ocr_spark.functions.curation import tfidf_topk

    return tfidf_topk(_cpu(spark, sf_dir, "documents"), "doc_id", "text", k=3)


@query(
    "budget_select",
    f"""
    WITH {_WORDS_CTE},
    docs AS (
      SELECT doc, CAST(len(words) AS BIGINT) AS n_tokens,
             CAST(floor(CAST(64 * len(list_distinct(words)) AS DOUBLE)
                        / len(words)) AS BIGINT) AS band
      FROM base WHERE len(words) > 0),
    bands AS (SELECT band, SUM(n_tokens) AS bt FROM docs GROUP BY band),
    ranked AS (
      SELECT band, bt,
             COALESCE(SUM(bt) OVER (ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM bands),
    rates AS (
      SELECT band,
             CASE WHEN cum_before + bt <= 12000 THEN CAST(1.0 AS DOUBLE)
                  WHEN cum_before < 12000
                    THEN ROUND(CAST(12000 - cum_before AS DOUBLE) / bt, 6)
                  ELSE CAST(0.0 AS DOUBLE) END AS rate
      FROM ranked)
    SELECT d.doc, d.band, d.n_tokens, r.rate,
           CAST(CASE WHEN ('0x' || substr(md5('budget:v1:' || CAST(d.doc AS VARCHAR)), 1, 8))::BIGINT
                          < CAST(round(r.rate * 4294967296) AS BIGINT)
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM docs d JOIN rates r USING (band)
    """,
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained best-first selection: documents banded by
    distinct-word ratio (64 bands), whole bands taken best-down under a
    12k-token budget, boundary band hash-filled at the residual rate —
    no global sort anywhere."""
    from ocr_spark.functions.curation import _doc_words, select_under_budget

    base = _doc_words(_cpu(spark, sf_dir, "documents"), "doc_id", "text")
    docs = base.filter(F.size("words") > 0).select(
        "doc",
        F.size("words").cast("bigint").alias("n_tokens"),
        F.floor(
            (F.lit(64) * F.size(F.array_distinct("words"))).cast("double")
            / F.size("words")
        ).cast("bigint").alias("band"),
    )
    return select_under_budget(docs, "doc", "n_tokens", "band", 12000)


@query(
    "temperature_sample",
    f"""
    WITH {_WORDS_CTE},
    docs AS (
      SELECT b.doc, CAST(len(b.words) AS BIGINT) AS n_tokens, d.lang AS stratum
      FROM base b JOIN documents d ON d.doc_id = b.doc),
    stats AS (SELECT stratum, SUM(n_tokens) AS ts FROM docs GROUP BY stratum),
    sw AS (SELECT stratum, ts,
                  CAST(round(sqrt(CAST(ts AS DOUBLE)) * 1000000) AS BIGINT) AS w
           FROM stats),
    tot AS (SELECT SUM(ts) AS t, SUM(w) AS sumw FROM sw),
    rated AS (
      SELECT stratum,
             (CAST(w AS DOUBLE) / sumw) * (CAST(t AS DOUBLE) / ts) AS ratio
      FROM sw CROSS JOIN tot),
    mx AS (SELECT MAX(ratio) AS maxr FROM rated),
    rates AS (
      SELECT stratum,
             ROUND(LEAST(CAST(1.0 AS DOUBLE), ratio / maxr), 6) AS rate
      FROM rated CROSS JOIN mx)
    SELECT d.doc, d.stratum, d.n_tokens, r.rate,
           CAST(CASE WHEN ('0x' || substr(md5('temp:v1:' || CAST(d.doc AS VARCHAR)), 1, 8))::BIGINT
                          < CAST(round(r.rate * 4294967296) AS BIGINT)
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM docs d JOIN rates r USING (stratum)
    """,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (alpha = 0.5) language rebalancing over the
    documents table: per-language keep rates from sqrt-token-mass target
    shares, applied as a deterministic hash draw per document."""
    from ocr_spark.functions.curation import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", "text")


@query(
    "chunk_documents",
    f"""
    WITH {_WORDS_CTE},
    w AS (SELECT doc, words FROM base WHERE len(words) > 0),
    c AS (
      SELECT doc,
             unnest(list_transform(
               generate_series(0,
                 CAST(1 + ceil(greatest(len(words) - 32, 0) / 24.0) AS INT) - 1),
               j -> struct_pack(
                 chunk_id := CAST(j AS BIGINT),
                 start_tok := CAST(j * 24 + 1 AS BIGINT),
                 n_tokens := CAST(least(32, len(words) - j * 24) AS BIGINT),
                 chunk_text := array_to_string(words[j*24+1 : j*24+32], ' ')))) AS u
      FROM w)
    SELECT doc, u.chunk_id AS chunk_id, u.start_tok AS start_tok,
           u.n_tokens AS n_tokens, u.chunk_text AS chunk_text
    FROM c
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token training windows (32-token chunks, 8-token
    overlap at this test scale): the context-window chunking step between
    curation and tokenization — a zero-shuffle projection + explode."""
    from ocr_spark.functions.curation import chunk_documents

    return chunk_documents(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=32, overlap=8)


@query(
    "length_percentiles",
    """
    WITH c AS (
      SELECT lang AS stratum, CAST(n_chars AS BIGINT) AS val, COUNT(*) AS c
      FROM documents GROUP BY lang, n_chars),
    r AS (
      SELECT stratum, val,
             SUM(c) OVER (PARTITION BY stratum ORDER BY val
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY stratum) AS n
      FROM c)
    SELECT stratum, CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN val END) AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN cum >= ceil(0.9 * n) THEN val END) AS BIGINT) AS p90,
           CAST(MIN(CASE WHEN cum >= ceil(0.99 * n) THEN val END) AS BIGINT) AS p99
    FROM r GROUP BY stratum
    """,
)
def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles (p50/p90/p99 of
    n_chars) via the value-histogram plan — the distinct-value window keeps
    exact percentiles tractable where a per-row stratum sort would not."""
    from ocr_spark.functions.curation import length_percentiles

    return length_percentiles(
        _t(spark, sf_dir, "documents"), "lang", "n_chars")


@query(
    "vocab_topk",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cf,
                 CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
          FROM flat GROUP BY w),
    top AS (SELECT w, cf, df FROM v ORDER BY cf DESC, w LIMIT 100)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS BIGINT) AS rank,
           w, cf, df
    FROM top
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-100 terms by collection
    frequency (ties broken by term), with document frequency — the vocab
    report every tokenizer build starts from.

    Scale shape: the (word)-keyed agg has map-side partials, and the vocab
    table it produces is corpus-bounded (millions of terms, not documents),
    so the global orderBy+limit compiles to TakeOrdered — per-partition
    top-100s reduced on the driver, never a total sort. The rank window runs
    over the 100 surviving rows only."""
    base = _cpu(spark, sf_dir, "documents")
    words = _lower_words()
    flat = base.select(F.col("doc_id").alias("doc"), F.explode(words).alias("w"))
    v = flat.groupBy("w").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc").alias("df"),
    )
    top = v.orderBy(F.col("cf").desc(), F.col("w")).limit(100)
    rank = F.row_number().over(
        Window.orderBy(F.col("cf").desc(), F.col("w"))).cast("bigint")
    return top.select(rank.alias("rank"), "w", "cf", "df")


@query(
    "domain_mix",
    f"""
    WITH {_WORDS_CTE},
    t AS (SELECT d.lang, d.source, b.doc, len(b.words) AS n_tok
          FROM base b JOIN documents d ON d.doc_id = b.doc),
    g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM t GROUP BY lang, source)
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share
    FROM g
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix report: documents and tokens per (lang, source) with each
    cell's share of corpus tokens — the table a data-mixture decision reads.
    One hash agg keyed on (lang, source); the share window runs over the
    aggregated cells (|langs| x |sources| rows), not the corpus."""
    base = _cpu(spark, sf_dir, "documents")
    words = _lower_words()
    g = (
        base.select("lang", "source", F.size(words).alias("n_tok"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    share = F.round(
        F.col("n_tokens").cast("double")
        / F.sum("n_tokens").over(Window.partitionBy()), 6)
    return g.select("lang", "source", "n_docs", "n_tokens",
                    share.alias("token_share"))


@query(
    "decontaminate",
    f"""
    WITH {_WORDS_CTE},
    {_trigrams_cte("g")},
    ev AS (SELECT DISTINCT gram FROM g WHERE doc % 41 = 0),
    tr AS (SELECT doc, gram FROM g WHERE doc % 41 != 0),
    p AS (
      SELECT tr.doc, COUNT(*) AS n_grams,
             SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
      FROM tr LEFT JOIN ev USING (gram) GROUP BY tr.doc)
    SELECT b.doc, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / n_grams, 6) AS hit_frac,
           CAST(COALESCE(n_hits, 0) >= 2 AS INT) AS contaminated
    FROM (SELECT doc FROM base WHERE doc % 41 != 0) b LEFT JOIN p USING (doc)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every-41st document plays the eval set;
    training docs are flagged when >= 2 of their distinct trigrams appear in
    it (broadcast eval-gram dimension, per-doc exact hit counts)."""
    from ocr_spark.functions.curation import decontaminate

    docs = _cpu(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 41 != 0),
        "doc_id", "text",
        docs.filter(F.col("doc_id") % 41 == 0),
        n=3, min_hits=2,
    )


# Thresholds are rate * 2^32 as exact integers (see stratified_sample).
_STRAT_RATES = {"en": 0.25, "de": 0.75, "es": 0.75, "fr": 0.75}
_STRAT_CASES = " ".join(
    f"WHEN '{k}' THEN {int(round(r * (1 << 32)))}" for k, r in _STRAT_RATES.items()
)


@query(
    "curation_pass",
    f"""
    WITH {_WORDS_CTE},
    train AS (SELECT doc, words FROM base WHERE doc % 41 != 0),
    {_trigrams_cte("g3")},
    ev AS (SELECT DISTINCT gram FROM g3 WHERE doc % 41 = 0),
    cont AS (
      SELECT t.doc,
             CASE WHEN SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) >= 2
                  THEN 1 ELSE 0 END AS contaminated
      FROM (SELECT doc, gram FROM g3 WHERE doc % 41 != 0) t
      LEFT JOIN ev USING (gram) GROUP BY t.doc),
    uc AS (SELECT doc, w, COUNT(*) AS c
           FROM (SELECT doc, unnest(words) AS w FROM train) GROUP BY doc, w),
    mw AS (SELECT doc, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS mwf
           FROM uc GROUP BY doc),
    tc AS (SELECT doc, gram, COUNT(*) AS c FROM (
             SELECT doc,
                    unnest(list_transform(generate_series(1, len(words) - 2),
                                          i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
             FROM train) GROUP BY doc, gram),
    dt AS (SELECT doc,
                  ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                        / SUM(c), 6) AS dtf
           FROM tc GROUP BY doc),
    d AS (
      SELECT t.doc,
             COALESCE(mw.mwf > CAST(0.15 AS DOUBLE), FALSE)
               OR COALESCE(dt.dtf > CAST(0.02 AS DOUBLE), FALSE) AS repetitive,
             COALESCE(cont.contaminated, 0) AS contaminated,
             ('0x' || substr(md5('strat:v1:' || CAST(t.doc AS VARCHAR)), 1, 8))::BIGINT
               AS sample_hash,
             CASE doc.lang {_STRAT_CASES} ELSE {1 << 32} END AS thresh
      FROM (SELECT doc FROM train) t
      LEFT JOIN mw USING (doc) LEFT JOIN dt USING (doc) LEFT JOIN cont USING (doc)
      JOIN documents doc ON doc.doc_id = t.doc),
    r AS (
      SELECT doc,
             CASE WHEN repetitive THEN 'repetitive'
                  WHEN contaminated = 1 THEN 'contaminated'
                  WHEN sample_hash >= thresh THEN 'sampled_out'
                  ELSE 'keep' END AS reason
      FROM d)
    SELECT doc, reason, CAST(reason = 'keep' AS INT) AS keep FROM r
    """,
)
def q_curation_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retention decision (repetition filter -> benchmark
    decontamination -> stratified sampling) with first-match-wins reasons;
    every-41st document plays the eval set, as in `decontaminate`."""
    from ocr_spark.functions.curation import curation_pass

    docs = _cpu(spark, sf_dir, "documents")
    return curation_pass(
        docs.filter(F.col("doc_id") % 41 != 0),
        "doc_id", "text", "lang",
        docs.filter(F.col("doc_id") % 41 == 0),
        _STRAT_RATES,
    )


@query(
    "stratified_sample",
    f"""
    SELECT doc, stratum, sample_hash FROM (
      SELECT doc_id AS doc, lang AS stratum,
             ('0x' || substr(md5('strat:v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS sample_hash
      FROM documents)
    WHERE sample_hash < CASE stratum {_STRAT_CASES} ELSE {1 << 32} END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: downsample English to
    25%, mid-resource languages to 75%, keep the rest — reproducible across
    engines, retries, and partitionings (no RNG)."""
    from ocr_spark.functions.curation import stratified_sample

    return stratified_sample(
        _cpu(spark, sf_dir, "documents"), "doc_id", "lang", _STRAT_RATES)


_MOJIBAKE_TEXT = (
    [_TEXT, " â€œMojibakeâ€¦ hereâ€™s â€“ a test"],
    ["CafÃ© â€” rÃ©sumÃ© naÃ¯ve? ", _TEXT],
    [_TEXT, " Â«TÂ° 25Â·5Â»"],
    [_TEXT],
)


def _mojibake_oracle() -> str:
    from ocr_spark.functions.curation import MOJIBAKE_MAP, MOJIBAKE_MARKERS

    fixed = "text"
    for bad, good in MOJIBAKE_MAP:
        fixed = f"replace({fixed}, '{bad}', '{good}')"

    def cnt(e: str) -> str:
        return (f"CAST(length({e}) - length(translate({e}, "
                f"'{MOJIBAKE_MARKERS}', '')) AS BIGINT)")

    return f"""
    WITH c AS (
      SELECT doc_id AS doc,
             {case_sql('doc_id', _MOJIBAKE_TEXT)} AS text
      FROM documents),
    f AS (SELECT doc, text, {fixed} AS fixed FROM c)
    SELECT doc, {cnt("text")} AS n_suspect, {cnt("fixed")} AS n_residual,
           fixed
    FROM f
    """


@query("fix_mojibake", _mojibake_oracle())
def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair over deterministically corrupted documents: every
    doc_id%4 class injects a different UTF-8-as-cp1252 artifact family
    (curly-quote/dash/ellipsis 3-byte forms; accented-Latin 2-byte forms
    including the deliberately-unmapped naÃ¯ve, which must survive into
    n_residual; Â-prefixed punctuation; and a clean control class)."""
    from ocr_spark.functions.curation import fix_mojibake

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _MOJIBAKE_TEXT).alias("text"))
    return fix_mojibake(docs, "doc_id", "text")


_SPAN_TEXT = ([(["cookie notice applies here "], [""], [""]), _TEXT,
               ([" subscribe to our newsletter today"], [""], [""], [""])],)
_SPAN_CORPUS_SQL = _docs_sql(_SPAN_TEXT, "text")


@query(
    "dup_span_removal",
    f"""
    WITH u AS ({_SPAN_CORPUS_SQL}),
    base AS (
      SELECT doc,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS words
      FROM u),
    w AS (
      SELECT doc, i - 1 AS pos, words[i] AS word
      FROM (SELECT doc, words, unnest(generate_series(1, len(words))) AS i
            FROM base)),
    g AS (
      SELECT doc, i - 1 AS gpos,
             md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
      FROM (SELECT doc, words, unnest(generate_series(1, len(words) - 2)) AS i
            FROM base WHERE len(words) >= 3)),
    dup AS (
      SELECT h FROM (SELECT DISTINCT doc, h FROM g)
      GROUP BY h HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT doc, gpos + off AS pos
      FROM (SELECT g.doc, g.gpos FROM g JOIN dup USING (h)),
           unnest(generate_series(0, 2)) AS t(off)),
    kept AS (
      SELECT w.doc, w.pos, w.word FROM w
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc = w.doc AND cov.pos = w.pos)),
    reb AS (
      SELECT doc, COUNT(*) AS n_kept,
             string_agg(word, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc)
    SELECT base.doc, CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(words) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(clean_text, '') AS clean_text
    FROM base LEFT JOIN reb USING (doc)
    """,
)
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated 3-gram span removal over documents augmented with
    injected boilerplate (a cookie-notice prefix on every third doc, a
    newsletter tail on every fourth) — the injected spans and the corpus's
    own natural duplicate grams are removed; unique prose survives."""
    from ocr_spark.functions.curation import dup_span_removal

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _SPAN_TEXT).alias("text"))
    return dup_span_removal(docs, "doc_id", "text", n=3, min_docs=2)


@query(
    "exact_k_sample",
    """
    WITH s AS (
      SELECT doc_id AS doc, lang AS stratum,
             ('0x' || substr(md5('ks' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents),
    n AS (SELECT stratum, COUNT(*) AS n FROM s GROUP BY stratum),
    pre AS (
      SELECT s.stratum, s.doc, s.h
      FROM s JOIN n USING (stratum)
      WHERE CAST(h AS HUGEINT) * n < CAST(2305843009213693952 AS HUGEINT) * 25
         OR h < 18014398509481984),
    r AS (
      SELECT stratum, doc,
             ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h, doc) AS rk
      FROM pre)
    SELECT stratum, doc, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 25
    """,
)
def q_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-25-per-language deterministic sample over documents: hash
    pre-filter bounds the rank window's input, integer cross-multiplied
    thresholds keep both engines bit-identical."""
    from ocr_spark.functions.curation import exact_k_sample

    return exact_k_sample(
        _cpu(spark, sf_dir, "documents"), "doc_id", "lang", k=25)


@query(
    "pmi_collocations",
    f"""
    WITH {_WORDS_CTE},
    biu AS (
      SELECT unnest([{{'w1': words[i], 'w2': words[i + 1]}}
                     for i in range(1, len(words))]) AS bi
      FROM base),
    bi0 AS (SELECT bi.w1 AS w1, bi.w2 AS w2 FROM biu),
    b AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
          FROM bi0 GROUP BY w1, w2),
    m1 AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_w1 FROM b GROUP BY w1),
    m2 AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_w2 FROM b GROUP BY w2),
    t AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM b),
    j AS (
      SELECT w1, w2, c_xy,
             CAST(c_xy * n_bi AS BIGINT) AS lift_num,
             CAST(c_w1 * c_w2 AS BIGINT) AS lift_den
      FROM b JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN t
      WHERE c_xy >= 3)
    SELECT w1, w2, c_xy, lift_num, lift_den,
           CAST(ROW_NUMBER() OVER (ORDER BY c_xy DESC, w1, w2) AS BIGINT) AS rank
    FROM (SELECT * FROM j ORDER BY c_xy DESC, w1, w2 LIMIT 50)
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 corpus bigrams (frequency >= 3) with
    exact-integer PMI components. ``lift_num / lift_den`` is the
    positional-marginal lift P(w1,w2) / (P(w1,.) P(.,w2)); the consumer
    takes ``ln(lift_num / lift_den)`` for PMI — emitted as two exact
    integers (not a rounded float) so the oracle compare is bit-stable,
    per the repo's kl/entropy precedent.

    Scale shape: bigrams come from a zip_with over the in-row word array
    (no self-join, no positional shuffle); the (w1,w2)-keyed count has
    map-side partials; the two marginals re-aggregate the vocab-bounded
    bigram table, not the corpus; the final order+limit compiles to
    TakeOrdered. At 10^12 documents lift_num = c_xy * n_bi outruns int64 —
    widen both products to decimal(38,0) there (one-line cast); at test
    scale int64 is exact and cheaper."""
    base = _cpu(spark, sf_dir, "documents")
    words = _lower_words()
    flat = (
        base.select(words.alias("w"))
        .select(
            F.explode(
                F.zip_with(
                    F.expr("slice(w, 1, greatest(size(w) - 1, 0))"),
                    F.expr("slice(w, 2, greatest(size(w) - 1, 0))"),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bi")
        )
        .select("bi.w1", "bi.w2")
    )
    b = flat.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    m1 = b.groupBy("w1").agg(F.sum("c_xy").alias("c_w1"))
    m2 = b.groupBy("w2").agg(F.sum("c_xy").alias("c_w2"))
    t = b.agg(F.sum("c_xy").alias("n_bi"))
    j = (
        b.join(m1, "w1").join(m2, "w2").crossJoin(F.broadcast(t))
        .filter(F.col("c_xy") >= 3)
        .select(
            "w1", "w2", "c_xy",
            (F.col("c_xy") * F.col("n_bi")).alias("lift_num"),
            (F.col("c_w1") * F.col("c_w2")).alias("lift_den"),
        )
    )
    top = j.orderBy(F.desc("c_xy"), "w1", "w2").limit(50)
    w = Window.orderBy(F.desc("c_xy"), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


@query(
    "leakage_split",
    """
    WITH d AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 40 AS VARCHAR) AS host,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens
      FROM documents),
    s AS (
      SELECT host, n_tokens,
             CASE WHEN ('0x' || substr(md5(host), 1, 15))::BIGINT % 10 < 8
                  THEN 'train' ELSE 'val' END AS split,
             CASE WHEN ('0x' || substr(md5('d' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
                  THEN 'train' ELSE 'val' END AS naive_split
      FROM d),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS naive_straddle_hosts
      FROM (SELECT host FROM s GROUP BY host
            HAVING COUNT(DISTINCT naive_split) > 1)),
    g AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM s GROUP BY split)
    SELECT split, n_docs, n_hosts, n_tokens, naive_straddle_hosts
    FROM g CROSS JOIN leak
    """,
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: deterministic 80/20 assignment hashed
    at HOST granularity, so near-duplicate pages from one site can never
    straddle the split. Emits per-split doc/host/token counts plus
    ``naive_straddle_hosts`` — how many hosts a doc-level hash split would
    scatter across both sides (the leakage a host-level split prevents;
    structurally zero for the host-level assignment itself).

    Scale shape: split assignment is a pure projection (md5 of the key, no
    shuffle); the report is one host-keyed distinct-agg plus a two-row
    broadcast of the leak counter. The md5-derived bucket is portable
    across engines and stable across runs — reshuffling the corpus never
    moves a document between splits."""
    bucket = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(  # noqa: E731
        "bigint"
    ) % 10
    words_n = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    )
    s = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        words_n.cast("bigint").alias("n_tokens"),
        F.when(
            bucket(F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))) < 8,
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("split"),
        F.when(
            bucket(F.concat(F.lit("d"), F.col("doc_id").cast("string"))) < 8,
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("naive_split"),
    )
    leak = (
        s.groupBy("host")
        .agg(F.countDistinct("naive_split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("naive_straddle_hosts"))
    )
    g = s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return g.crossJoin(F.broadcast(leak)).select(
        "split", "n_docs", "n_hosts", "n_tokens", "naive_straddle_hosts"
    )


def _bpe_oracle(n_merges: int = 3) -> str:
    """Unrolled DuckDB twin of ``bpe_merges``: same word-frequency dict,
    same space-armored symbol strings, same plain-replace merge, same
    (count desc, left, right) argmax at every step."""
    parts = [
        f"WITH {_WORDS_CTE},",
        "flat AS (SELECT unnest(words) AS w FROM base),",
        "wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM flat"
        " WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w),",
        "w0 AS (SELECT cnt,"
        " regexp_replace(w, '(.)', ' \\1 ', 'g') AS sym FROM wc),",
    ]
    selects = []
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"t{i} AS (SELECT cnt, string_split(trim(sym), '  ') AS t FROM {prev}),"
        )
        parts.append(
            f"pu{i} AS (SELECT cnt, unnest([{{'l': t[j], 'r': t[j + 1]}}"
            f" for j in range(1, len(t))]) AS p FROM t{i}),"
        )
        parts.append(
            f"p{i} AS (SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c"
            f" FROM pu{i} GROUP BY p.l, p.r),"
        )
        parts.append(
            f"b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),"
        )
        if i < n_merges:
            parts.append(
                f"w{i} AS (SELECT cnt, replace(sym,"
                f" ' ' || b{i}.l || '  ' || b{i}.r || ' ',"
                f" ' ' || b{i}.l || b{i}.r || ' ') AS sym FROM {prev}, b{i}),"
            )
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS rank, l AS \"left\","
            f" r AS \"right\", c AS pair_count FROM b{i}"
        )
    sql = "\n".join(parts)
    return sql.rstrip(",") + "\n" + "\nUNION ALL\n".join(selects)


@query("bpe_merges", _bpe_oracle(3))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merge rules learned from the documents corpus — the
    tokenizer-training primitive. See functions/curation.bpe_merges for
    the merge semantics and the vocab-bounded scale shape."""
    from ocr_spark.functions.curation import bpe_merges

    return bpe_merges(_cpu(spark, sf_dir, "documents"), "text", n_merges=3)


def _bpe_tokenize_oracle(n_merges: int = 3) -> str:
    """Unrolled DuckDB twin of ``bpe_tokenize``: the bpe_merges chain with
    the word column carried through, the LAST merge also applied, then the
    per-word token count joined back to the exploded corpus."""
    parts = [
        f"WITH {_WORDS_CTE},",
        "flat0 AS (SELECT doc, unnest(words) AS w FROM base),",
        "wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM flat0"
        " WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w),",
        "w0 AS (SELECT w, cnt,"
        " regexp_replace(w, '(.)', ' \\1 ', 'g') AS sym FROM wc),",
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"t{i} AS (SELECT cnt, string_split(trim(sym), '  ') AS t FROM {prev}),"
        )
        parts.append(
            f"pu{i} AS (SELECT cnt, unnest([{{'l': t[j], 'r': t[j + 1]}}"
            f" for j in range(1, len(t))]) AS p FROM t{i}),"
        )
        parts.append(
            f"p{i} AS (SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c"
            f" FROM pu{i} GROUP BY p.l, p.r),"
        )
        parts.append(
            f"b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),"
        )
        parts.append(
            f"w{i} AS (SELECT w, cnt, replace(sym,"
            f" ' ' || b{i}.l || '  ' || b{i}.r || ' ',"
            f" ' ' || b{i}.l || b{i}.r || ' ') AS sym FROM {prev}, b{i}),"
        )
    parts.append(
        f"dict AS (SELECT w, CAST(len(string_split(trim(sym), '  ')) AS BIGINT)"
        f" AS tok_n FROM w{n_merges}),"
    )
    parts.append(
        "j AS (SELECT flat0.doc, dict.tok_n FROM flat0"
        " LEFT JOIN dict ON flat0.w = dict.w)"
    )
    return "\n".join(parts) + """
    SELECT doc, CAST(COUNT(tok_n) AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(tok_n), 0) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_skipped
    FROM j GROUP BY doc
    """


@query("bpe_tokenize", _bpe_tokenize_oracle(3))
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE end-to-end: learn 3 merges from the corpus, apply them, count
    post-merge tokens per document. The merge application is vocab-bounded
    (per distinct word, not per occurrence); see curation.bpe_tokenize."""
    from ocr_spark.functions.curation import bpe_tokenize

    return bpe_tokenize(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "extraction_eval",
    r"""
    WITH t0 AS (
      SELECT doc_id AS doc, text AS gold, trim(text) AS gt FROM documents),
    tk AS (SELECT doc, gold, string_split_regex(gt, '\s+') AS w0 FROM t0),
    bu AS (
      SELECT doc, gold,
             array_to_string(
               list_transform(
                 list_filter(generate_series(1, len(w0)), i -> i % 7 <> 0),
                 i -> w0[i]), ' ')
               || ' subscribe to our newsletter today' AS pred
      FROM tk),
    pt AS (
      SELECT doc,
             CASE WHEN length(trim(pred)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(pred)), '\s+') END AS words
      FROM bu),
    gt2 AS (
      SELECT doc,
             CASE WHEN length(trim(gold)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(gold)), '\s+') END AS words
      FROM bu),
    sz AS (
      SELECT pt.doc, CAST(len(pt.words) AS BIGINT) AS pred_n,
             CAST(len(gt2.words) AS BIGINT) AS gold_n
      FROM pt JOIN gt2 ON pt.doc = gt2.doc),
    tok AS (
      SELECT doc, unnest(words) AS w, 1 AS p, 0 AS g FROM pt
      UNION ALL
      SELECT doc, unnest(words) AS w, 0 AS p, 1 AS g FROM gt2),
    tf AS (SELECT doc, w, SUM(p) AS tp, SUM(g) AS tg FROM tok GROUP BY doc, w),
    ov AS (SELECT doc, CAST(SUM(LEAST(tp, tg)) AS BIGINT) AS overlap
           FROM tf GROUP BY doc),
    pr AS (
      SELECT sz.doc, pred_n, gold_n,
             CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap
      FROM sz LEFT JOIN ov ON sz.doc = ov.doc),
    bp AS (
      SELECT doc, pred_n, gold_n, overlap,
             CAST(CASE WHEN pred_n > 0 THEN (10000 * overlap) // pred_n
                       ELSE 0 END AS BIGINT) AS precision_bp,
             CAST(CASE WHEN gold_n > 0 THEN (10000 * overlap) // gold_n
                       ELSE 0 END AS BIGINT) AS recall_bp
      FROM pr)
    SELECT doc, pred_n, gold_n, overlap, precision_bp, recall_bp,
           CAST(CASE WHEN precision_bp + recall_bp > 0
                     THEN (2 * precision_bp * recall_bp)
                          // (precision_bp + recall_bp)
                     ELSE 0 END AS BIGINT) AS f1_bp
    FROM bp
    """,
)
def q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality eval over the documents corpus: token-bag
    precision/recall/F1 (exact basis points) of a degraded extraction
    against the gold text. The degraded side drops every 7th token and
    appends a boilerplate tail — a deterministic stand-in for a candidate
    extractor's miss/leak profile, so both the <1.0-recall and
    <1.0-precision paths are exercised on every document. See
    functions/curation.extraction_eval for the two-shuffle scale shape."""
    from ocr_spark.functions.curation import extraction_eval

    docs = _cpu(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    kept = F.filter(toks, lambda x, i: (i + 1) % 7 != 0)
    pred = F.concat(F.array_join(kept, " "),
                    F.lit(" subscribe to our newsletter today"))
    d = docs.select(
        "doc_id", F.col("text").alias("gold"), pred.alias("pred"))
    return extraction_eval(d, "doc_id", "pred", "gold")


@query(
    "ngram_novelty",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
      FROM documents),
    dg AS (
      SELECT DISTINCT doc_id,
             unnest([l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]
                     for i in range(1, len(l) - 1)]) AS g
      FROM t),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g),
    per_doc AS (
      SELECT dg.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM dg JOIN first f ON f.g = dg.g
      GROUP BY dg.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
                THEN (p.n_novel * 10000) // p.n_grams
                ELSE 0 END AS BIGINT) AS novelty_bp
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty over the documents corpus: how much
    of each document's distinct trigram set first enters the corpus with
    that document — the is-the-crawl-still-finding-new-text signal,
    complementary to corpus_dup_ngrams (how shared the corpus is) and
    dup_span_removal (which spans to cut). See
    functions/curation.ngram_novelty."""
    from ocr_spark.functions.curation import ngram_novelty

    return ngram_novelty(_cpu(spark, sf_dir, "documents"), "doc_id", "text", 3)


@query(
    "readability",
    r"""
    WITH base AS (
      SELECT doc_id AS id,
             CAST(length(string_split_regex(trim(text), '\s+'))
                  AS BIGINT) AS n_words,
             CAST(GREATEST(
               length(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences,
             CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
      WHERE length(trim(text)) > 0),
    scored AS (
      SELECT id, n_words, n_sentences, n_syllables,
             CAST(206835 - (1015 * n_words) // n_sentences
                  - (84600 * n_syllables) // n_words AS BIGINT)
               AS flesch_milli
      FROM base WHERE n_words > 0)
    SELECT id AS doc_id, n_words, n_sentences, n_syllables, flesch_milli,
           CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
                WHEN flesch_milli >= 60000 THEN 'standard'
                WHEN flesch_milli >= 30000 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM scored
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Flesch-reading-ease proxy per document (vowel-run syllable
    counting, exact milli-point formula, textbook 90/60/30 bands) — the
    cheap readability lens beside doc_quality/gopher_rules. See
    functions/curation.readability."""
    from ocr_spark.functions.curation import readability

    return readability(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text"
    ).select(
        F.col("id").alias("doc_id"),
        "n_words", "n_sentences", "n_syllables", "flesch_milli", "band",
    )


@query(
    "vocab_coverage",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    v AS (SELECT w, COUNT(*) AS cf FROM flat GROUP BY w),
    tot AS (SELECT SUM(cf) AS total FROM v),
    top AS (SELECT w, cf, ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS rk
            FROM v ORDER BY cf DESC, w LIMIT 1000),
    cum AS (SELECT rk, SUM(cf) OVER (ORDER BY rk) AS mass FROM top)
    SELECT n.top_n,
           CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS vocab_size,
           CAST(COALESCE((SELECT MAX(mass) FROM cum WHERE rk <= n.top_n),
                         0) AS BIGINT) AS covered_cf,
           CAST(COALESCE((SELECT MAX(mass) FROM cum WHERE rk <= n.top_n),
                         0) * 10000 // t.total AS BIGINT) AS covered_bp
    FROM (SELECT unnest([10, 100, 1000]) AS top_n) n CROSS JOIN tot t
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of corpus token mass the
    top-10/100/1000 terms cover (exact bp) — the tokenizer-budget
    diagnostic (a steep curve says a small vocab suffices; a flat one
    says the corpus is vocabulary-hungry).

    Scale shape: one term-keyed agg with map-side partials is the only
    data-sized shuffle; the top-1000 selection is TakeOrdered (bounded
    heap, never a vocab sort) and the cumulative/checkpoint reads run on
    the 1000-row frame with one broadcast total."""
    base = _cpu(spark, sf_dir, "documents")
    words = _lower_words()
    flat = base.select(F.col("doc_id").alias("doc"), F.explode(words).alias("w"))
    v = flat.groupBy("w").agg(F.count(F.lit(1)).alias("cf")).persist()
    tot = v.agg(
        F.sum("cf").alias("total"), F.count(F.lit(1)).alias("vocab_size"))
    top = v.orderBy(F.col("cf").desc(), "w").limit(1000)
    wcum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        top.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cf").desc(), "w")),
        )
        .withColumn("mass", F.sum("cf").over(wcum))
    )
    ns = spark.range(1).select(
        F.explode(F.array(F.lit(10), F.lit(100), F.lit(1000)))
        .alias("top_n"))
    cov = (
        ns.join(F.broadcast(cum.select("rk", "mass")),
                F.col("rk") <= F.col("top_n"), "left")
        .groupBy("top_n")
        .agg(F.coalesce(F.max("mass"), F.lit(0)).alias("covered_cf"))
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        F.col("top_n").cast("bigint").alias("top_n"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("covered_cf").cast("bigint").alias("covered_cf"),
        F.expr("CAST(covered_cf * 10000 div total AS BIGINT)")
        .alias("covered_bp"),
    )


@query(
    "winsorize_events",
    """
    WITH hist AS (
      SELECT event_type AS k,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT k, v, c,
             SUM(c) OVER (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY k) AS n
      FROM hist),
    bounds AS (
      SELECT k,
             MIN(CASE WHEN cum >= (1 * n + 99) // 100 THEN v END) AS p_lo,
             MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END) AS p_hi
      FROM r GROUP BY k)
    SELECT h.k AS event_type,
           CAST(MAX(b.p_lo) AS BIGINT) AS p_lo,
           CAST(MAX(b.p_hi) AS BIGINT) AS p_hi,
           CAST(SUM(CASE WHEN h.v < b.p_lo THEN h.c ELSE 0 END)
                AS BIGINT) AS n_lo,
           CAST(SUM(CASE WHEN h.v > b.p_hi THEN h.c ELSE 0 END)
                AS BIGINT) AS n_hi,
           CAST(SUM(h.c * h.v) AS BIGINT) AS sum_raw,
           CAST(SUM(h.c * GREATEST(LEAST(h.v, b.p_hi), b.p_lo))
                AS BIGINT) AS sum_clamped
    FROM hist h JOIN bounds b ON b.k = h.k
    GROUP BY h.k
    """,
)
def q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization report (exact integer p1/p99 bounds
    via the value-histogram rule, tail clamp counts, sum before/after) —
    the robust-aggregation guard against scraper-artifact outliers. See
    functions/curation.winsorize."""
    from ocr_spark.functions.curation import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("value_cents"))
    return winsorize(ev, "event_type", "value_cents", lo_pct=1, hi_pct=99)


_SCRIPT_SYNTH_SQL = """
      SELECT doc_id,
             repeat('अआइई ', CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 1 END
                             + CAST(doc_id % 3 AS INTEGER))
             || repeat('汉字文本 ', CASE WHEN doc_id % 5 = 1 THEN 6 ELSE 1 END)
             || repeat('текст ', CASE WHEN doc_id % 5 = 2 THEN 6 ELSE 1 END
                                 + CAST(doc_id % 2 AS INTEGER))
             || repeat('word ', CASE WHEN doc_id % 5 = 3 THEN 6 ELSE 1 END)
             || repeat('7', 1 + CAST(doc_id % 4 AS INTEGER)) AS t
      FROM documents
"""


@query(
    "script_mix",
    f"""
    WITH synth AS ({_SCRIPT_SYNTH_SQL}),
    counted AS (
      SELECT doc_id,
             length(t) AS total,
             length(t) - length(regexp_replace(t, '\\p{{Devanagari}}', '', 'g')) AS deva_chars,
             length(t) - length(regexp_replace(t, '\\p{{Han}}', '', 'g')) AS han_chars,
             length(t) - length(regexp_replace(t, '\\p{{Cyrillic}}', '', 'g')) AS cyr_chars,
             length(t) - length(regexp_replace(t, '\\p{{Latin}}', '', 'g')) AS latin_chars,
             length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS digit_chars
      FROM synth),
    labeled AS (
      SELECT *,
             total - deva_chars - han_chars - cyr_chars - latin_chars
                   - digit_chars AS other_chars,
             CASE WHEN deva_chars >= han_chars AND deva_chars >= cyr_chars
                       AND deva_chars >= latin_chars THEN 'deva'
                  WHEN han_chars >= cyr_chars
                       AND han_chars >= latin_chars THEN 'han'
                  WHEN cyr_chars >= latin_chars THEN 'cyr'
                  ELSE 'latin' END AS dominant_script
      FROM counted)
    SELECT dominant_script,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(deva_chars) AS BIGINT) AS deva_chars,
           CAST(SUM(han_chars) AS BIGINT) AS han_chars,
           CAST(SUM(cyr_chars) AS BIGINT) AS cyr_chars,
           CAST(SUM(latin_chars) AS BIGINT) AS latin_chars,
           CAST(SUM(digit_chars) AS BIGINT) AS digit_chars,
           CAST(SUM(other_chars) AS BIGINT) AS other_chars
    FROM labeled GROUP BY dominant_script
    """,
)
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus script-composition rollup over deterministic multi-script
    synthetic text: per dominant script, document count and code-point
    totals per script class. The pre-language-ID routing signal and the
    crawler-config regression alarm (a corpus-level script-share jump
    means the fetcher's charset/seed mix changed). See
    functions/curation.script_counts; one projection + one small agg."""
    from ocr_spark.functions.curation import script_counts

    k = F.col("doc_id")
    m = k % 5
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.expr("repeat('अआइई ', CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 1"
                   " END + CAST(doc_id % 3 AS INT))"),
            F.expr("repeat('汉字文本 ', CASE WHEN doc_id % 5 = 1 THEN 6"
                   " ELSE 1 END)"),
            F.expr("repeat('текст ', CASE WHEN doc_id % 5 = 2 THEN 6 ELSE 1"
                   " END + CAST(doc_id % 2 AS INT))"),
            F.expr("repeat('word ', CASE WHEN doc_id % 5 = 3 THEN 6 ELSE 1"
                   " END)"),
            F.expr("repeat('7', 1 + CAST(doc_id % 4 AS INT))"),
        ).alias("t"),
    )
    return (
        script_counts(synth, "t")
        .groupBy("dominant_script")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("deva_chars").cast("bigint").alias("deva_chars"),
            F.sum("han_chars").cast("bigint").alias("han_chars"),
            F.sum("cyr_chars").cast("bigint").alias("cyr_chars"),
            F.sum("latin_chars").cast("bigint").alias("latin_chars"),
            F.sum("digit_chars").cast("bigint").alias("digit_chars"),
            F.sum("other_chars").cast("bigint").alias("other_chars"),
        )
    )


@query(
    "markdown_strip",
    """
    WITH synth AS (
      SELECT doc_id,
             '# Head ' || CAST(doc_id AS VARCHAR) || chr(10)
             || '> note' || chr(10)
             || 'See [link ' || CAST(doc_id AS VARCHAR)
             || '](http://h' || CAST(doc_id % 7 AS VARCHAR) || '/p) and '
             || '![pic](img.png) `code' || CAST(doc_id AS VARCHAR)
             || '` **bold** *it*' || chr(10) || '---' || chr(10)
             || substr(text, 1, 50 + CAST(doc_id % 40 AS INTEGER)) AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(t,
             '```[^`]*```', ' ', 'g'),
             '`([^`]*)`', '\\1', 'g'),
             '!\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '(^|\\n)#{1,6}[ \\t]*', '\\1', 'g'),
             '\\*\\*([^*]*)\\*\\*', '\\1', 'g'),
             '\\*([^*]*)\\*', '\\1', 'g'),
             '(^|\\n)>[ \\t]*', '\\1', 'g'),
             '(^|\\n)[-*_]{3,}[ \\t]*(\\n|$)', '\\1', 'g') AS stripped,
           CAST(len(str_split(t, '](')) - 1 AS BIGINT) AS n_links,
           CAST(len(regexp_split_to_array(t, '(^|\\n)#{1,6}[ \\t]')) - 1
                AS BIGINT) AS n_headers,
           CAST(length(t) AS BIGINT) AS md_len,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(t,
             '```[^`]*```', ' ', 'g'),
             '`([^`]*)`', '\\1', 'g'),
             '!\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
             '(^|\\n)#{1,6}[ \\t]*', '\\1', 'g'),
             '\\*\\*([^*]*)\\*\\*', '\\1', 'g'),
             '\\*([^*]*)\\*', '\\1', 'g'),
             '(^|\\n)>[ \\t]*', '\\1', 'g'),
             '(^|\\n)[-*_]{3,}[ \\t]*(\\n|$)', '\\1', 'g'))
           AS BIGINT) AS txt_len
    FROM synth
    """,
)
def q_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown→plain-text strip over deterministic synthetic markdown
    wrapping each document's text: links/images reduce to their anchor
    text, headers/emphasis/quotes/rules drop, code spans unwrap. Pure
    codegen'd regex projection. See functions/curation.markdown_strip."""
    from ocr_spark.functions.curation import markdown_strip

    d = F.col("doc_id").cast("string")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("# Head "), d, F.lit("\n> note\nSee [link "), d,
            F.lit("](http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit("/p) and ![pic](img.png) `code"), d,
            F.lit("` **bold** *it*\n---\n"),
            F.expr("substr(text, 1, 50 + CAST(doc_id % 40 AS INT))"),
        ).alias("t"),
    )
    out = markdown_strip(synth, "t")
    return out.select("doc_id", "stripped", "n_links", "n_headers",
                      "md_len", "txt_len")


# decomposed e + U+0301, then precomposed U+00E9
_NFC_SUFFIX = ([" cafe\u0301"], [" caf\u00e9"], [""])


@query(
    "nfc_audit",
    f"""
    WITH synth AS (
      SELECT source,
             substr(text, 1, 30)
             || {case_sql('doc_id', _NFC_SUFFIX)} AS t
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t <> nfc_normalize(t) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_drifted,
           CAST(SUM(length(t)) AS BIGINT) AS chars_raw,
           CAST(SUM(length(nfc_normalize(t))) AS BIGINT) AS chars_nfc
    FROM synth GROUP BY source
    """,
)
def q_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-NFC drift per source over synthetic mixed-normalization
    text (every third doc carries a decomposed e+U+0301): docs changed
    by NFC and the code-point delta. The mixed-NFC/NFD gate that
    protects exact dedup. See functions/curation.nfc_audit."""
    from ocr_spark.functions.curation import nfc_audit

    synth = _cpu(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.substring("text", 1, 30),
            case_col(F.col("doc_id"), _NFC_SUFFIX),
        ).alias("t"),
    )
    return nfc_audit(synth, "source", "t")


@query(
    "source_lang_entropy",
    """
    WITH counts AS (
      SELECT source AS g, lang AS k, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    g AS (
      SELECT g, SUM(c) AS n_rows, COUNT(*) AS n_classes,
             SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000)
                          AS BIGINT)) AS sum_clnc
      FROM counts GROUP BY g)
    SELECT g AS source,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_classes AS BIGINT) AS n_classes,
           CAST(CAST(ROUND(LN(CAST(n_rows AS DOUBLE)) * 1000000) AS BIGINT)
                - sum_clnc // n_rows AS BIGINT) AS entropy_micro
    FROM g
    """,
)
def q_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix Shannon entropy per source in exact integer
    micro-nats — the source-purity gate (a 'source' spanning many
    languages is a mis-routed fetcher or translation farm). See
    functions/curation.group_entropy."""
    from ocr_spark.functions.curation import group_entropy

    return group_entropy(
        _t(spark, sf_dir, "documents"), "source", "lang")


_SCRIPT_RUN_SYNTH = (
    "CASE WHEN doc_id % 4 = 0 THEN 'one देव two слово 汉 three'"
    " WHEN doc_id % 4 = 1 THEN 'अआ इई उऊ ' || substr(text, 1, 20)"
    " WHEN doc_id % 4 = 2 THEN substr(text, 1, 40)"
    " ELSE '7 word семь 77 слово' END"
)


@query(
    "script_runs",
    f"""
    WITH synth AS (
      SELECT doc_id, {_SCRIPT_RUN_SYNTH} AS t FROM documents),
    cls AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(t, '\\s+'), w -> w <> ''),
               w -> CASE
                 WHEN regexp_matches(w[1], '\\p{{Devanagari}}') THEN 'deva'
                 WHEN regexp_matches(w[1], '\\p{{Han}}') THEN 'han'
                 WHEN regexp_matches(w[1], '\\p{{Cyrillic}}') THEN 'cyr'
                 WHEN regexp_matches(w[1], '[0-9]') THEN 'digit'
                 WHEN regexp_matches(w[1], '\\p{{Latin}}') THEN 'latin'
                 ELSE 'other' END) AS cs
      FROM synth)
    SELECT doc_id,
           CAST(len(cs) AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(
             [CASE WHEN cs[i] <> cs[i + 1] THEN 1 ELSE 0 END
              for i in generate_series(1, len(cs) - 1)]), 0) AS BIGINT)
               AS n_switches
    FROM cls
    """,
)
def q_script_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document script-switch count (code-switching detector) over
    deterministic multi-script synthetic text: classify each word by its
    first code point's script, count adjacent-class transitions. A high
    switch rate flags spam keyword-stuffing and broken-encoding pages
    that per-corpus script shares (script_mix) can't see. Zero shuffle:
    split + two HOF passes (transform classes, zip_with shifted slices)
    fused into the scan projection."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SCRIPT_RUN_SYNTH).alias("t"))
    words = F.filter(F.split(F.col("t"), r"\s+"), lambda w: w != "")
    first = lambda w: F.substring(w, 1, 1)  # noqa: E731
    cls = F.transform(
        words,
        lambda w: F.when(first(w).rlike(r"\p{IsDevanagari}"), "deva")
        .when(first(w).rlike(r"\p{IsHan}"), "han")
        .when(first(w).rlike(r"\p{IsCyrillic}"), "cyr")
        .when(first(w).rlike("[0-9]"), "digit")
        .when(first(w).rlike(r"\p{IsLatin}"), "latin")
        .otherwise("other"),
    )
    docs = docs.select("doc_id", cls.alias("cs"))
    n = F.size("cs")
    switches = F.aggregate(
        F.zip_with(
            F.slice(F.col("cs"), 1, n - 1),
            F.slice(F.col("cs"), 2, n - 1),
            lambda a, b: F.when(a != b, 1).otherwise(0),
        ),
        F.lit(0), lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        F.when(n > 1, switches).otherwise(0).cast("bigint")
        .alias("n_switches"),
    )


_MIX_BUDGET = 2000


@query(
    "mix_solver",
    f"""
    WITH srcs AS (
      SELECT source AS src,
             CAST(SUM(n_chars) // (1 + length(source) % 5) AS BIGINT)
                 AS avail
      FROM documents GROUP BY source),
    a0 AS (
      SELECT src, avail, CAST(0 AS BIGINT) AS alloc,
             CAST({_MIX_BUDGET} AS BIGINT) AS leftover
      FROM srcs),
    s1 AS (SELECT MAX(leftover) AS lo,
                  SUM(CASE WHEN alloc < avail THEN 1 ELSE 0 END) AS n_open
           FROM a0),
    b1 AS (SELECT src, avail,
                  alloc + LEAST(avail - alloc,
                    CASE WHEN alloc < avail
                         THEN lo // GREATEST(n_open, 1) ELSE 0 END) AS alloc
           FROM a0 CROSS JOIN s1),
    a1 AS (SELECT src, avail, alloc,
                  {_MIX_BUDGET} - (SELECT SUM(alloc) FROM b1) AS leftover
           FROM b1),
    s2 AS (SELECT MAX(leftover) AS lo,
                  SUM(CASE WHEN alloc < avail THEN 1 ELSE 0 END) AS n_open
           FROM a1),
    b2 AS (SELECT src, avail,
                  alloc + LEAST(avail - alloc,
                    CASE WHEN alloc < avail
                         THEN lo // GREATEST(n_open, 1) ELSE 0 END) AS alloc
           FROM a1 CROSS JOIN s2),
    a2 AS (SELECT src, avail, alloc,
                  {_MIX_BUDGET} - (SELECT SUM(alloc) FROM b2) AS leftover
           FROM b2),
    s3 AS (SELECT MAX(leftover) AS lo,
                  SUM(CASE WHEN alloc < avail THEN 1 ELSE 0 END) AS n_open
           FROM a2),
    b3 AS (SELECT src, avail,
                  alloc + LEAST(avail - alloc,
                    CASE WHEN alloc < avail
                         THEN lo // GREATEST(n_open, 1) ELSE 0 END) AS alloc
           FROM a2 CROSS JOIN s3)
    SELECT src AS source, avail, CAST(alloc AS BIGINT) AS alloc,
           CAST(alloc >= avail AS INTEGER) AS capped
    FROM b3
    """,
)
def q_mix_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix waterfilling: allocate a fixed token budget across
    sources with per-source availability caps (heterogenized
    deterministically), equal-share + redistribute for 3 rounds. See
    functions/curation.mix_solver."""
    from ocr_spark.functions.curation import mix_solver

    srcs = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.expr(
            "CAST(SUM(n_chars) div (1 + length(source) % 5) AS BIGINT)")
            .alias("avail"))
    )
    return mix_solver(srcs, "source", "avail", budget=_MIX_BUDGET, rounds=3)


@query(
    "best_span",
    """
    WITH words AS (
      SELECT doc, u.pos, length(u.w) - 3 AS sc FROM (
        SELECT doc_id AS doc,
               list_transform(generate_series(0, len(ws) - 1),
                 i -> {'pos': i, 'w': ws[i + 1]}) AS pairs
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 w -> w <> '') AS ws
              FROM documents)),
      LATERAL unnest(pairs) AS t(u)),
    pfx AS (
      SELECT doc, pos, sc,
             SUM(sc) OVER (PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      FROM words),
    lo AS (
      SELECT doc, pos, pre,
             MIN(pre) OVER (PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS minb
      FROM pfx),
    best AS (
      SELECT doc,
             MAX(pre - LEAST(COALESCE(minb, 0), 0)) AS raw,
             COUNT(*) AS n_words
      FROM lo GROUP BY doc)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(GREATEST(raw, 0) AS BIGINT) AS best_score
    FROM best
    """,
)
def q_best_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best contiguous word-span score per document (Kadane's maximum
    subarray, empty floor 0) as one zero-shuffle codegen'd fold — the
    quality-spine extractor. The DuckDB twin proves the same integers
    via the prefix-sum window formulation. See
    functions/curation.best_span."""
    from ocr_spark.functions.curation import best_span

    return best_span(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "quantile_align",
    """
    WITH scored AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
    shist AS (
      SELECT source, v, COUNT(*) AS c FROM scored GROUP BY source, v),
    sr AS (
      SELECT source, v, c,
             SUM(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM shist),
    probes AS (
      SELECT source, v, c, cum * 10000 // n AS pct_bp FROM sr),
    ghist AS (
      SELECT v, COUNT(*) AS c FROM scored GROUP BY v),
    gr AS (
      SELECT v, SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 10000 // (SELECT COUNT(*) FROM scored) AS gcum_bp
      FROM ghist),
    u AS (
      SELECT NULL AS source, NULL AS c, v AS gval, gcum_bp AS bp, 0 AS t
      FROM gr
      UNION ALL
      SELECT source, c, NULL, pct_bp, 1 FROM probes),
    m AS (
      SELECT source, c, bp, t,
             MIN(gval) OVER (ORDER BY bp DESC, t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS aligned_v
      FROM u)
    SELECT source,
           CAST(bp AS BIGINT) AS pct_bp,
           CAST(c AS BIGINT) AS n_docs,
           CAST(aligned_v AS BIGINT) AS aligned_v
    FROM m WHERE t = 1
    """,
)
def q_quantile_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of an integer score: each
    source-local histogram value maps to the GLOBAL score at the same
    percentile (smallest global value whose cumulative share reaches the
    source-local share) — the calibration step before comparing quality
    scores across sources with different scales. The inequality lookup
    is the asof-union trick: global histogram rows and source probes
    union into ONE descending-bp window with a running MIN — never an
    inequality join. All windows run over histograms, not docs."""
    scored = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("bigint").alias("v"))
    shist = scored.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    ws = (Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    probes = (
        shist
        .withColumn("cum", F.sum("c").over(ws))
        .withColumn("n", F.sum("c").over(Window.partitionBy("source")))
        .select("source", "c",
                F.expr("cum * 10000 div n").alias("bp"),
                F.lit(1).alias("t"),
                F.lit(None).cast("bigint").alias("gval"))
    )
    tot = scored.agg(F.count(F.lit(1)).alias("nt"))
    ghist = scored.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    wg = (Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grows = (
        ghist.withColumn("gcum", F.sum("c").over(wg))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("bigint").alias("c"),
            F.expr("gcum * 10000 div nt").alias("bp"),
            F.lit(0).alias("t"),
            F.col("v").alias("gval"),
        )
    )
    u = grows.unionByName(probes)
    wm = (Window.orderBy(F.desc("bp"), F.asc("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        u.withColumn("aligned_v", F.min("gval").over(wm))
        .filter(F.col("t") == 1)
        .select(
            "source",
            F.col("bp").cast("bigint").alias("pct_bp"),
            F.col("c").cast("bigint").alias("n_docs"),
            F.col("aligned_v").cast("bigint").alias("aligned_v"),
        )
    )


@query(
    "idf_drift",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> ''))) AS w
      FROM documents),
    dfab AS (
      SELECT w,
             SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS df_a,
             SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS df_b
      FROM words GROUP BY w
      HAVING SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) >= 5
         AND SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) >= 5),
    ranked AS (
      SELECT w, df_a, df_b,
             ROW_NUMBER() OVER (ORDER BY df_a DESC, w) AS rank_a,
             ROW_NUMBER() OVER (ORDER BY df_b DESC, w) AS rank_b
      FROM dfab)
    SELECT w AS term,
           CAST(df_a AS BIGINT) AS df_a,
           CAST(df_b AS BIGINT) AS df_b,
           CAST(rank_a AS BIGINT) AS rank_a,
           CAST(rank_b AS BIGINT) AS rank_b,
           CAST(ABS(rank_a - rank_b) AS BIGINT) AS drift
    FROM ranked
    ORDER BY ABS(rank_a - rank_b) DESC, w LIMIT 20
    """,
)
def q_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency rank drift between two crawl halves (doc_id
    parity as crawl A/B): the 20 terms whose df rank moved most. A
    vocabulary whose top ranks churn between crawls signals topic drift
    or a fetcher-mix change before any model metric does. One distinct-
    word explode + term agg; the rank windows run over the df-filtered
    vocabulary (small), and top-20 is a bounded TakeOrdered."""
    words = (
        _cpu(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda w: w != ""))).alias("w"),
        )
    )
    dfab = (
        words.groupBy("w")
        .agg(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
            .alias("df_a"),
            F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
            .alias("df_b"),
        )
        .filter((F.col("df_a") >= 5) & (F.col("df_b") >= 5))
    )
    ranked = (
        dfab
        .withColumn("rank_a", F.row_number().over(
            Window.orderBy(F.desc("df_a"), F.asc("w"))))
        .withColumn("rank_b", F.row_number().over(
            Window.orderBy(F.desc("df_b"), F.asc("w"))))
    )
    return (
        ranked.select(
            F.col("w").alias("term"),
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            F.col("rank_a").cast("bigint").alias("rank_a"),
            F.col("rank_b").cast("bigint").alias("rank_b"),
            F.abs(F.col("rank_a") - F.col("rank_b")).cast("bigint")
            .alias("drift"),
        )
        .orderBy(F.desc("drift"), F.asc("term"))
        .limit(20)
    )


def _filter_funnel_oracle() -> str:
    g = ORACLE["gopher_rules"]
    return f"""
    WITH g AS ({g}),
    d AS (
      SELECT doc_id, lang, text,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text)
                  THEN 1 ELSE 0 END AS is_rep
      FROM documents),
    j AS (
      SELECT d.doc_id,
             CASE WHEN g.keep THEN 1 ELSE 0 END AS k1,
             CASE WHEN g.keep AND d.lang = 'en' THEN 1 ELSE 0 END AS k2,
             CASE WHEN g.keep AND d.lang = 'en' AND d.is_rep = 1
                  THEN 1 ELSE 0 END AS k3
      FROM d JOIN g ON g.doc = d.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(k1) AS BIGINT) AS n_quality,
           CAST(SUM(k2) AS BIGINT) AS n_lang,
           CAST(SUM(k3) AS BIGINT) AS n_final,
           CAST((COUNT(*) - SUM(k1)) * 10000 // COUNT(*) AS BIGINT)
               AS quality_drop_bp,
           CAST((SUM(k1) - SUM(k2)) * 10000 // GREATEST(SUM(k1), 1)
               AS BIGINT) AS lang_drop_bp,
           CAST((SUM(k2) - SUM(k3)) * 10000 // GREATEST(SUM(k2), 1)
               AS BIGINT) AS dedup_drop_bp
    FROM j
    """


@query("filter_funnel", _filter_funnel_oracle())
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report: documents surviving each stage of
    gopher-quality → english-only → exact-dedup-representative, with
    per-stage attrition in basis points — the number every dataset card
    leads with, and the first thing to re-check when a corpus shrinks
    unexpectedly. Reuses gopher_rules (zero-shuffle flags); the dedup
    stage partitions by a text digest (the oracle by raw text — same
    equality groups, same representative)."""
    from ocr_spark.functions.curation import gopher_rules

    docs = _cpu(spark, sf_dir, "documents")
    flags = gopher_rules(docs, "doc_id", "text").select(
        F.col("doc").alias("doc_id"), "keep")
    wrep = Window.partitionBy(F.sha2(F.col("text"), 256))
    d = docs.select(
        "doc_id", "lang", "text",
        (F.col("doc_id") == F.min("doc_id").over(wrep)).cast("int")
        .alias("is_rep"),
    )
    j = d.join(flags, "doc_id").select(
        F.when(F.col("keep"), 1).otherwise(0).alias("k1"),
        F.when(F.col("keep") & (F.col("lang") == "en"), 1).otherwise(0)
        .alias("k2"),
        F.when(F.col("keep") & (F.col("lang") == "en")
               & (F.col("is_rep") == 1), 1).otherwise(0).alias("k3"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("k1").cast("bigint").alias("n_quality"),
        F.sum("k2").cast("bigint").alias("n_lang"),
        F.sum("k3").cast("bigint").alias("n_final"),
        F.expr("CAST((COUNT(*) - SUM(k1)) * 10000 div COUNT(*) AS BIGINT)")
        .alias("quality_drop_bp"),
        F.expr("CAST((SUM(k1) - SUM(k2)) * 10000"
               " div GREATEST(SUM(k1), 1) AS BIGINT)").alias("lang_drop_bp"),
        F.expr("CAST((SUM(k2) - SUM(k3)) * 10000"
               " div GREATEST(SUM(k2), 1) AS BIGINT)")
        .alias("dedup_drop_bp"),
    )


_CENSUS_TEXT = (
    [_TEXT, " mail a", _DOC_ID, "@h.example now"],
    [_TEXT, " call +91 98765 43210 or visit http://h", 7, ".example/p"],
    [_TEXT, " ip 10.0.", 256, ".1 ref 2345 6789 0123"],
)

_CENSUS_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{2,3}[-\s][0-9]{5}[-\s][0-9]{5}"),
    ("id12", r"[0-9]{4}\s[0-9]{4}\s[0-9]{4}"),
    ("url", r"https?://[^\s]+"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
]


@query(
    "entity_census",
    f"""
    WITH src AS (
      SELECT source, {case_sql('doc_id', _CENSUS_TEXT)} AS t FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
        f"CAST(SUM(len(regexp_extract_all(t, '{pat}'))) AS BIGINT)"
        f" AS n_{name}" for name, pat in _CENSUS_PATTERNS)}
    FROM src GROUP BY source
    """,
)
def q_entity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source entity census (emails, phones, 12-digit ids, URLs,
    IPs) over deterministically salted text — the PII-exposure and
    link-density inventory that decides which sources need a scrub pass
    (the counting complement of pii_scrub's redaction). One codegen'd
    regexp projection + one source agg."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", case_col(F.col("doc_id"), _CENSUS_TEXT).alias("t"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for name, pat in _CENSUS_PATTERNS:
        aggs.append(
            F.sum(F.size(F.regexp_extract_all(F.col("t"), F.lit(pat),
                                              F.lit(0))))
            .cast("bigint").alias(f"n_{name}"))
    return docs.groupBy("source").agg(*aggs)


@query(
    "pps_sample",
    """
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
    tot AS (SELECT SUM(wt) AS tw FROM w),
    c AS (
      SELECT doc_id, wt,
             SUM(wt) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             GREATEST(t.tw // 100, 1) AS step
      FROM w CROSS JOIN tot t)
    SELECT doc_id, wt,
           CAST(cum // step - (cum - wt) // step AS BIGINT) AS n_hits
    FROM c
    WHERE cum // step > (cum - wt) // step
    """,
)
def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (~100
    draws): a document is selected each time its weight span crosses a
    step-grid point on the cumulative-weight line, so inclusion
    probability is exactly proportional to weight, heavy docs can draw
    multiple hits, and the whole design is one running-sum window — the
    deterministic PPS that replaces RNG-based weighted sampling in
    reproducible corpus subsampling. Returns (doc_id, wt, n_hits)."""
    w = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("wt"))
    tot = w.agg(F.sum("wt").alias("tw"))
    win = (Window.orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("wt").over(win))
        .withColumn("step", F.expr("GREATEST(tw div 100, 1)"))
    )
    return (
        c.filter(F.expr("cum div step > (cum - wt) div step"))
        .select(
            "doc_id", "wt",
            F.expr("CAST(cum div step - (cum - wt) div step AS BIGINT)")
            .alias("n_hits"),
        )
    )


@query(
    "equimass_bins",
    """
    WITH w AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
    hist AS (SELECT v, COUNT(*) AS c FROM w GROUP BY v),
    r AS (
      SELECT v, c,
             SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER () AS n
      FROM hist),
    edges AS (
      SELECT b.k,
             MIN(CASE WHEN r.cum >= (b.k * r.n + 9) // 10 THEN r.v END)
                 AS edge
      FROM r CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS k) b
      GROUP BY b.k)
    SELECT CAST(k AS BIGINT) AS decile,
           CAST(edge AS BIGINT) AS edge
    FROM edges
    """,
)
def q_equimass_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-mass decile edges of an integer metric via the
    value-histogram ceil rule (edge k = smallest value whose cumulative
    count reaches ceil(k·n/10)) — the generalized percentile primitive
    behind equi-depth histograms, stratified range partitioning, and
    skew-aware bucketing. One histogram agg; the 10 edges come from one
    constant fan-out over the histogram, not 10 passes."""
    w = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("v"))
    hist = w.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    win = (Window.orderBy("v")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = (hist.withColumn("cum", F.sum("c").over(win))
         .withColumn("n", F.sum("c").over(
             Window.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing))))
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    return (
        r.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(F.min(F.when(
            F.col("cum") >= F.expr("(k * n + 9) div 10"),
            F.col("v"))).alias("edge"))
        .select(F.col("k").cast("bigint").alias("decile"),
                F.col("edge").cast("bigint").alias("edge"))
    )


_CARD_TEXT = (
    [_TEXT, " card 4111111111111111 ok"],
    [_TEXT, " ref 4111111111111112 no"],
    [_TEXT, " none"],
)


@query(
    "luhn_pii",
    f"""
    WITH synth AS (
      SELECT source, doc_id,
             {case_sql('doc_id', _CARD_TEXT)} AS t
      FROM documents),
    hits AS (
      SELECT source, doc_id,
             unnest(regexp_extract_all(t, '[0-9]{{16}}', 0)) AS num
      FROM synth),
    checked AS (
      SELECT source, num,
             CASE WHEN list_sum(
               [CASE WHEN i % 2 = 0 THEN
                  CASE WHEN 2 * CAST(substr(reverse(num), i, 1) AS INTEGER) > 9
                       THEN 2 * CAST(substr(reverse(num), i, 1) AS INTEGER) - 9
                       ELSE 2 * CAST(substr(reverse(num), i, 1) AS INTEGER) END
                ELSE CAST(substr(reverse(num), i, 1) AS INTEGER) END
                for i in generate_series(1, 16)]) % 10 = 0
             THEN 1 ELSE 0 END AS valid
      FROM hits)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(valid) AS BIGINT) AS n_luhn_valid,
           CAST(SUM(valid) * 10000 // COUNT(*) AS BIGINT) AS valid_bp
    FROM checked GROUP BY source
    """,
)
def q_luhn_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Card-number PII exposure with Luhn validation: 16-digit
    candidates per source, and how many pass the Luhn mod-10 check —
    the filter that separates real card numbers from order ids and
    random digit runs, cutting false redactions (a naive 16-digit scrub
    destroys legitimate identifiers 10x more often). Spark's native
    luhn_check runs in codegen; the oracle unrolls the double-every-
    second-digit sum. One regexp explode + source agg."""
    synth = _t(spark, sf_dir, "documents").select(
        "source", case_col(F.col("doc_id"), _CARD_TEXT).alias("t"))
    hits = synth.select(
        "source",
        F.explode(F.regexp_extract_all(
            F.col("t"), F.lit("[0-9]{16}"), F.lit(0))).alias("num"),
    )
    return (
        hits.select("source",
                    F.expr("CAST(luhn_check(num) AS INT)").alias("valid"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("valid").cast("bigint").alias("n_luhn_valid"),
            F.expr("CAST(SUM(valid) * 10000 div COUNT(*) AS BIGINT)")
            .alias("valid_bp"),
        )
    )


@query(
    "length_moments",
    """
    WITH w AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
    s AS (
      SELECT source,
             COUNT(*) AS n,
             SUM(x) AS s1,
             SUM(CAST(x AS HUGEINT) * x) AS s2,
             SUM(CAST(x AS HUGEINT) * x * x) AS s3,
             SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
      FROM w GROUP BY source),
    m AS (
      SELECT source, n, s1,
             n * s2 - CAST(s1 AS HUGEINT) * s1 AS m2n,
             CAST(n AS HUGEINT) * n * s3
               - 3 * n * CAST(s1 AS HUGEINT) * s2
               + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3n,
             CAST(n AS HUGEINT) * n * n * s4
               - 4 * CAST(n AS HUGEINT) * n * s1 * s3
               + 6 * n * CAST(s1 AS HUGEINT) * s1 * s2
               - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4n
      FROM s)
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(s1 AS BIGINT) AS sum_chars,
           CAST(FLOOR(1000000.0 * CAST(m3n AS DOUBLE)
             / POW(CAST(m2n AS DOUBLE), 1.5)) AS BIGINT) AS skew_micro,
           CAST(FLOOR(1000000.0 * (CAST(m4n AS DOUBLE))
             / (CAST(m2n AS DOUBLE) * CAST(m2n AS DOUBLE)))
             AS BIGINT) AS kurt_micro
    FROM m WHERE m2n > 0
    """,
)
def q_length_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source skewness and kurtosis of document length via exact
    integer power sums (the single-pass central-moment identities
    n·Σx²−(Σx)², n²Σx³−3nΣxΣx²+2(Σx)³, n³Σx⁴−4n²ΣxΣx³+6n(Σx)²Σx²−3(Σx)⁴
    in DECIMAL(38)) with one final double division each, spelled
    identically cross-engine — the distribution-shape drift detector
    beyond mean/variance (a fat right tail = concatenation bugs, a
    left-skew = truncation). One source agg, map-side partials."""
    w = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("bigint").alias("x"))
    xd = F.col("x").cast("decimal(38,0)")
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(xd * F.col("x")).alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    m = s.select(
        "source", "n", "s1",
        F.expr("n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1").alias("m2n"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n * s3"
               " - 3 * n * CAST(s1 AS DECIMAL(38,0)) * s2"
               " + 2 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1").alias("m3n"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n * n * s4"
               " - 4 * CAST(n AS DECIMAL(38,0)) * n * s1 * s3"
               " + 6 * n * CAST(s1 AS DECIMAL(38,0)) * s1 * s2"
               " - 3 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 * s1")
        .alias("m4n"),
    )
    return m.filter(F.col("m2n") > 0).select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("s1").cast("bigint").alias("sum_chars"),
        F.expr("CAST(FLOOR(1000000.0D * CAST(m3n AS DOUBLE)"
               " / POW(CAST(m2n AS DOUBLE), 1.5D))"
               " AS BIGINT)").alias("skew_micro"),
        F.expr("CAST(FLOOR(1000000.0D * (CAST(m4n AS DOUBLE))"
               " / (CAST(m2n AS DOUBLE) * CAST(m2n AS DOUBLE)))"
               " AS BIGINT)").alias("kurt_micro"),
    )


def _ccnet_oracle() -> str:
    lm = _lm_oracle()
    return f"""
    WITH lm AS ({lm}),
    scored AS (
      SELECT lm.doc, d.lang, lm.n_terms,
             CASE WHEN lm.n_terms > 0 THEN
               CAST((-lm.sum_logp_micro) // lm.n_terms AS BIGINT)
             END AS score_micro
      FROM lm JOIN documents d ON d.doc_id = lm.doc),
    binned AS (
      SELECT lang, score_micro // 1000 AS bin FROM scored WHERE n_terms > 0),
    hist AS (SELECT lang, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(cnt) AS n FROM hist GROUP BY 1),
    cum AS (
      SELECT lang, bin,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum
      FROM hist),
    cuts AS (
      SELECT c.lang,
             MIN(CASE WHEN c.cum * 3 >= t.n THEN c.bin END) AS cut1,
             MIN(CASE WHEN c.cum * 3 >= 2 * t.n THEN c.bin END) AS cut2
      FROM cum c JOIN tot t USING (lang) GROUP BY c.lang)
    SELECT s.doc, s.lang, s.score_micro,
           CASE WHEN s.score_micro IS NULL THEN NULL
                WHEN s.score_micro // 1000 <= cuts.cut1 THEN 'head'
                WHEN s.score_micro // 1000 <= cuts.cut2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s LEFT JOIN cuts USING (lang)
    """


@query("ccnet_buckets", _ccnet_oracle())
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity terciles per language with
    value-threshold (tie-stable) bucket assignment over the bigram-LM
    micro-nat score. See functions/curation.ccnet_buckets."""
    from ocr_spark.functions.curation import ccnet_buckets

    return ccnet_buckets(_cpu(spark, sf_dir, "documents"), "doc_id", "text", "lang")


# Cyrillic/Greek -> Latin confusables (the high-frequency spoof set)
_CONFUSABLE_FROM = "аеорсхукіѕАЕОРСХКВМНТοαν"


# Cyrillic look-alikes: 'p\u0430yp\u0430l account', '\u0441r\u0443pto wallet'
_HOMOGLYPH_TEXT = (
    [_TEXT, " pаypаl account"], [_TEXT, " сrуpto wallet"], [_TEXT], [_TEXT])


@query(
    "homoglyph_fold",
    f"""
    WITH u AS (
      SELECT doc_id,
             {case_sql('doc_id', _HOMOGLYPH_TEXT)} AS text
      FROM documents),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w != '') AS words
      FROM u),
    flagged AS (
      SELECT doc_id, len(words) AS n_tokens,
             len(list_filter(words, w ->
               regexp_matches(w, '[A-Za-z]')
               AND regexp_matches(w, '[{_CONFUSABLE_FROM}]')))
                 AS n_spoofed
      FROM toks)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_spoofed AS BIGINT) AS n_spoofed,
           CASE WHEN n_tokens > 0
                THEN CAST(n_spoofed * 10000 // n_tokens AS BIGINT) END
               AS spoof_bp
    FROM flagged
    """,
)
def q_homoglyph_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-script homoglyph (confusable) spoof detection — the webspam
    trick of hiding 'paypal' as 'pаypаl' with Cyrillic а:
    a token is spoofed when it mixes ASCII letters with characters from
    the high-frequency Cyrillic/Greek confusable set. Planted spoofs per
    doc_id class; counts and exact bp rate per doc. Folding the
    confusables to Latin (F.translate — zero-shuffle codegen) is the
    remediation the detector gates; the detector itself is one in-row
    HOF filter, no Python, no shuffle."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        case_col(F.col("doc_id"), _HOMOGLYPH_TEXT).alias("text"),
    )
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    spoofed = F.filter(
        words,
        lambda w: w.rlike("[A-Za-z]") & w.rlike(f"[{_CONFUSABLE_FROM}]"),
    )
    n_tok = F.size(words)
    n_sp = F.size(spoofed)
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        n_sp.cast("bigint").alias("n_spoofed"),
        F.when(n_tok > 0, F.expr(
            f"size(filter(filter(split(trim(text), '\\\\s+'), w -> w != ''),"
            f" w -> w rlike '[A-Za-z]' and w rlike '[{_CONFUSABLE_FROM}]'))"
            f" * 10000 div size(filter(split(trim(text), '\\\\s+'), w -> w != ''))"
        )).cast("bigint").alias("spoof_bp"),
    )


_BIDI_CHARS = "".join(chr(c) for c in range(0x202A, 0x202F)) + "".join(
    chr(c) for c in (0x2066, 0x2067, 0x2068, 0x2069))
_ZW_CHARS = "​‌‍﻿"


# an RLO..PDF bidi pair; a zero-width-split word plus a BOM
_INVISIBLE_TEXT = ([_TEXT, " \u202elive\u202c"],
                   [_TEXT, " wa\u200btch \ufeff"], [_TEXT], [_TEXT], [_TEXT])


@query(
    "invisible_chars_audit",
    f"""
    WITH u AS (
      SELECT doc_id, {case_sql('doc_id', _INVISIBLE_TEXT)} AS text
      FROM documents)
    SELECT doc_id,
           CAST(length(text)
                - length(regexp_replace(text, '[{_BIDI_CHARS}]', '', 'g'))
               AS BIGINT) AS n_bidi,
           CAST(length(text)
                - length(regexp_replace(text, '[{_ZW_CHARS}]', '', 'g'))
               AS BIGINT) AS n_zero_width,
           CAST(length(regexp_replace(text,
               '[{_BIDI_CHARS}{_ZW_CHARS}]', '', 'g')) AS BIGINT)
               AS clean_len,
           CAST(regexp_matches(text, '[{_BIDI_CHARS}{_ZW_CHARS}]') AS INT)
               AS flagged
    FROM u
    """,
)
def q_invisible_chars_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character poisoning audit (Trojan-Source-style bidi
    controls U+202A-202E / U+2066-2069 and zero-width chars
    U+200B-D / U+FEFF): per doc, counts of each class, the sanitized
    length, and the gate flag — the defense a training corpus runs
    before tokenization, where invisible characters silently split or
    reorder tokens. Planted per doc_id class (an RLO..PDF pair, a
    zero-width-split word + BOM). One zero-shuffle regexp projection."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _INVISIBLE_TEXT).alias("text"))
    bidi = f"[{_BIDI_CHARS}]"
    zw = f"[{_ZW_CHARS}]"
    both = f"[{_BIDI_CHARS}{_ZW_CHARS}]"
    return docs.select(
        "doc_id",
        (F.length("text") - F.length(F.regexp_replace("text", bidi, "")))
        .cast("bigint").alias("n_bidi"),
        (F.length("text") - F.length(F.regexp_replace("text", zw, "")))
        .cast("bigint").alias("n_zero_width"),
        F.length(F.regexp_replace("text", both, ""))
        .cast("bigint").alias("clean_len"),
        F.col("text").rlike(both).cast("int").alias("flagged"),
    )


_TRUNC_TEXT = (
    [_TEXT, " truncated mid sent"],
    [_TEXT, " done..."],
    [_TEXT, " finished."],
    [_TEXT, " stop!"],
    [_TEXT, " sent to the"],
)
_TRUNC_TEXT_SQL = _docs_sql(_TRUNC_TEXT, "text")


@query(
    "truncation_detect",
    f"""
    WITH u AS ({_TRUNC_TEXT_SQL})
    SELECT doc,
           CAST(regexp_matches(text, '[.!?"'')\\]]\\s*$') AS INT)
             AS terminal,
           CAST(regexp_matches(text, '(\\.\\.\\.|…)\\s*$') AS INT)
             AS ellipsis,
           CAST(regexp_matches(text,
             '(?i)[ ](the|a|an|and|of|to|in|with|for)\\s*$') AS INT)
             AS dangling,
           CAST(NOT regexp_matches(text, '[.!?"'')\\]]\\s*$')
                OR regexp_matches(text, '(\\.\\.\\.|…)\\s*$')
                OR regexp_matches(text,
                  '(?i)[ ](the|a|an|and|of|to|in|with|for)\\s*$')
                AS INT) AS truncated
    FROM u
    """,
)
def q_truncation_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation detection — the C4-adjacent gate for documents cut off
    mid-sentence by extraction or crawling: no terminal punctuation,
    trailing ellipsis, or a dangling function word all flag the doc.
    Planted suffixes exercise all branches deterministically. One
    zero-shuffle regexp projection."""
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _TRUNC_TEXT).alias("text"))
    terminal = F.col("text").rlike("[.!?\"')\\]]\\s*$")
    ellipsis = F.col("text").rlike("(\\.\\.\\.|…)\\s*$")
    dangling = F.col("text").rlike(
        "(?i)[ ](the|a|an|and|of|to|in|with|for)\\s*$")
    return docs.select(
        F.col("doc_id").alias("doc"),
        terminal.cast("int").alias("terminal"),
        ellipsis.cast("int").alias("ellipsis"),
        dangling.cast("int").alias("dangling"),
        (~terminal | ellipsis | dangling).cast("int").alias("truncated"),
    )


_OBFUSCATED = (
    ["contact alice", 3, " [at] example [dot] com for info"],
    ["mail bob(at)site", 2, "(dot)org today"],
    ["write carol AT corp DOT net please"],
    ["already plain dave@real.io here"],
    ["no contact info at all"],
)
_OBFUSCATED_SQL = _docs_sql(_OBFUSCATED, "text")

_AT_PAT = (r"([A-Za-z0-9._%+-]+)\s*"
           r"(?:\[\s*at\s*\]|\(\s*at\s*\)|\s+AT\s+)\s*"
           r"([A-Za-z0-9-]+)\s*"
           r"(?:\[\s*dot\s*\]|\(\s*dot\s*\)|\s+DOT\s+)\s*"
           r"([A-Za-z]{2,})")
_PLAIN_PAT = r"([A-Za-z0-9._%+-]+@[A-Za-z0-9-]+\.[A-Za-z]{2,})"


@query(
    "email_deobfuscate",
    f"""
    WITH u AS ({_OBFUSCATED_SQL})
    SELECT doc,
           nullif(
             CASE WHEN regexp_extract(text, '{_AT_PAT}', 1) != ''
                  THEN regexp_extract(text, '{_AT_PAT}', 1) || '@'
                       || regexp_extract(text, '{_AT_PAT}', 2) || '.'
                       || regexp_extract(text, '{_AT_PAT}', 3)
                  ELSE regexp_extract(text, '{_PLAIN_PAT}', 1)
             END, '') AS email,
           CAST(regexp_extract(text, '{_AT_PAT}', 1) != '' AS INT)
             AS was_obfuscated
    FROM u
    """,
)
def q_email_deobfuscate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obfuscated-email decoding — the PII-scrub complement: scrapers'
    targets write 'alice [at] example [dot] com' precisely to evade the
    plain-email regex, so a scrubber that misses the obfuscated forms
    leaks the PII it was built to remove. Normalizes [at]/(at)/AT and
    [dot]/(dot)/DOT forms to canonical addresses; plain addresses pass
    through with was_obfuscated=0. Zero-shuffle regexp projection."""
    docs = _docs(spark, sf_dir, _OBFUSCATED, "text")
    user = F.regexp_extract("text", _AT_PAT, 1)
    rebuilt = F.concat(user, F.lit("@"),
                       F.regexp_extract("text", _AT_PAT, 2), F.lit("."),
                       F.regexp_extract("text", _AT_PAT, 3))
    plain = F.regexp_extract("text", _PLAIN_PAT, 1)
    return docs.select(
        "doc",
        F.nullif(F.when(user != "", rebuilt).otherwise(plain), F.lit(""))
        .alias("email"),
        (user != "").cast("int").alias("was_obfuscated"),
    )


_MD_HTML = (
    ["<h2>Title ", 7, "</h2><p>Intro paragraph.</p>"],
    ["<h3>Sub</h3><ul><li>alpha</li><li>beta ", 3, "</li></ul>"],
    ['<p>see <a href="https://ex.org/p', 9, '">page ', 9, "</a> now</p>"],
    ["<pre><code>x = ", 4, "\nprint(x)</code></pre><p>tail</p>"],
    ["<blockquote>wise words ", 6, "</blockquote>"],
)
_MD_HTML_SQL = _docs_sql(_MD_HTML, "html")


@query(
    "html_to_markdown",
    f"""
    WITH u AS ({_MD_HTML_SQL}),
    conv AS (
      SELECT doc, html,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?s)<pre><code>(.*?)</code></pre>',
               e'\n```\n\\\\1\n```\n', 'g'),
               '<h2[^>]*>(.*?)</h2>', e'\n## \\\\1\n', 'g'),
               '<h3[^>]*>(.*?)</h3>', e'\n### \\\\1\n', 'g'),
               '<li[^>]*>(.*?)</li>', e'\n- \\\\1', 'g'),
               '(?s)<blockquote[^>]*>(.*?)</blockquote>',
               e'\n> \\\\1\n', 'g'),
               '<a href="([^"]*)"[^>]*>(.*?)</a>',
               '[\\2](\\1)', 'g'),
               '<[^>]*>', '', 'g'),
               e'\n{{3,}}', e'\n\n', 'g'),
             e' \n') AS markdown
      FROM u)
    SELECT doc, markdown,
           CAST(len(regexp_extract_all(html, '<h[23][^>]*>')) AS BIGINT)
             AS n_headings,
           CAST(len(regexp_extract_all(html, '<li[^>]*>')) AS BIGINT)
             AS n_list_items,
           CAST(len(regexp_extract_all(html, '<a href="')) AS BIGINT)
             AS n_links,
           CAST(len(regexp_extract_all(html, '<pre><code>')) AS BIGINT)
             AS n_code_blocks
    FROM conv
    """,
)
def q_html_to_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-preserving HTML→Markdown conversion — the modern
    LLM-corpus extraction target (headings, lists, fenced code, quotes,
    and links survive as lightweight markup instead of being flattened
    to prose). Ordered regexp rewrites: fenced code FIRST (its body must
    not be re-matched by later tag rules), then h2/h3/li/blockquote/a,
    then a residual-tag strip and a blank-line collapse. Zero-shuffle
    projection; at 100 TB this runs scan-local exactly like the
    boilerplate pass (SURVEY §2.2 G-family analog, composition layer
    over the html_lists / headings extractors)."""
    docs = _docs(spark, sf_dir, _MD_HTML, "html")
    return docs.withColumn("markdown_raw", _md_chain(F.col("html"))).select(
        "doc",
        F.expr("trim(BOTH ' \n' FROM markdown_raw)").alias("markdown"),
        F.size(F.regexp_extract_all("html", F.lit(r"<h[23][^>]*>"), F.lit(0)))
        .cast("bigint").alias("n_headings"),
        F.size(F.regexp_extract_all("html", F.lit(r"<li[^>]*>"), F.lit(0)))
        .cast("bigint").alias("n_list_items"),
        F.size(F.regexp_extract_all("html", F.lit('<a href="'), F.lit(0)))
        .cast("bigint").alias("n_links"),
        F.size(F.regexp_extract_all("html", F.lit("<pre><code>"), F.lit(0)))
        .cast("bigint").alias("n_code_blocks"),
    )


def _md_chain(html: Column) -> Column:
    """The ordered HTML→Markdown rewrite chain (shared by the query body
    so the synth column is rewritten exactly once)."""
    nl = "\n"
    md = html
    for pat, rep in [
        (r"(?s)<pre><code>(.*?)</code></pre>",
         nl + "```" + nl + "$1" + nl + "```" + nl),
        (r"<h2[^>]*>(.*?)</h2>", nl + "## $1" + nl),
        (r"<h3[^>]*>(.*?)</h3>", nl + "### $1" + nl),
        (r"<li[^>]*>(.*?)</li>", nl + "- $1"),
        (r"(?s)<blockquote[^>]*>(.*?)</blockquote>", nl + "> $1" + nl),
        (r'<a href="([^"]*)"[^>]*>(.*?)</a>', "[$2]($1)"),
        (r"<[^>]*>", ""),
        ("\n{3,}", nl + nl),
    ]:
        md = F.regexp_replace(md, pat, rep)
    return md


@query(
    "tokenizer_fertility",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[^ \t\n]+'))) AS BIGINT)
             AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+')))
                + SUM(length(regexp_replace(text, '[A-Za-z0-9_ \t\n]', '',
                                            'g'))) AS BIGINT) AS n_tokens,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           CAST((SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+')))
                 + SUM(length(regexp_replace(text, '[A-Za-z0-9_ \t\n]', '',
                                             'g')))) * 10000
                // GREATEST(SUM(len(regexp_extract_all(text, '[^ \t\n]+'))),
                            1) AS BIGINT) AS fertility_bp,
           CAST(SUM(octet_length(encode(text))) * 10000
                // GREATEST(SUM(len(regexp_extract_all(text,
                                                       '[A-Za-z0-9_]+')))
                            + SUM(length(regexp_replace(
                                  text, '[A-Za-z0-9_ \t\n]', '', 'g'))), 1)
               AS BIGINT) AS bytes_per_token_bp
    FROM documents
    GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — tokens-per-word and
    bytes-per-token in exact basis points, the eval that decides whether
    a vocabulary under-serves a language (high fertility = more tokens
    per word = higher serving cost; the metric behind multilingual vocab
    sizing). Token model = the suite's BPE-ish pre-tokenization: ASCII
    word-char runs count one token each, every other non-space char is
    its own (byte-fallback) token — so non-Latin scripts naturally show
    the fertility penalty a Latin-centric vocab imposes. All counts are
    exact integers; one lang-keyed partial agg, no shuffle of text."""
    t = F.col("text")
    word_runs = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9_]+"),
                                            F.lit(0)))
    punct = F.length(F.regexp_replace(t, "[A-Za-z0-9_ \t\n]", ""))
    words = F.size(F.regexp_extract_all("text", F.lit("[^ \t\n]+"),
                                        F.lit(0)))
    per = _cpu(spark, sf_dir, "documents").select(
        "lang", words.alias("w"), (word_runs + punct).alias("tok"),
        F.octet_length(t).alias("b"))
    return (
        per.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("w").cast("bigint").alias("n_words"),
             F.sum("tok").cast("bigint").alias("n_tokens"),
             F.sum("b").cast("bigint").alias("n_bytes"))
        .select("lang", "n_docs", "n_words", "n_tokens", "n_bytes",
                F.expr("n_tokens * 10000 div GREATEST(n_words, 1)")
                .cast("bigint").alias("fertility_bp"),
                F.expr("n_bytes * 10000 div GREATEST(n_tokens, 1)")
                .cast("bigint").alias("bytes_per_token_bp"))
    )


_CODE_TEXT = (
    ["def f(x):\n    return x + ", 5, "\n\nclass A:\n    pass"],
    ["The quick brown fox jumps over the lazy dog ", 8, ". It was a bright "
     "cold day in April."],
    ["function add(a, b) { return a + b; }\nconst x = add(1, ", 3, ");"],
    ["Mixed prose where x = 1 denotes assignment, case ", 6, "."],
)
_CODE_TEXT_SQL = _docs_sql(_CODE_TEXT, "text")


@query(
    "code_detect",
    f"""
    WITH u AS ({_CODE_TEXT_SQL})
    SELECT doc,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]]', '', 'g'))
               AS BIGINT) AS symbol_chars,
           CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]]', '', 'g'))
                * 10000 // GREATEST(length(text), 1) AS BIGINT)
             AS symbol_bp,
           CAST(len(regexp_extract_all(text,
                '\\b(def|function|class|import|return|const|var)\\b'))
               AS BIGINT) AS kw_hits,
           CAST(len(regexp_extract_all(text, '(?m)^(    |\\t)')) AS BIGINT)
             AS indented_lines,
           CAST(CASE WHEN length(regexp_replace(text, '[^{{}}();=<>\\[\\]]',
                                                '', 'g'))
                      * 10000 // GREATEST(length(text), 1) >= 300
                      AND len(regexp_extract_all(text,
                        '\\b(def|function|class|import|return|const|var)\\b'))
                          >= 2
                THEN 1 ELSE 0 END AS INT) AS is_code
    FROM u
    """,
)
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-content detection — routing documents into code vs prose
    corpora (and keeping stray code out of a prose LM mix) needs a
    deterministic gate long before a learned classifier exists. Exact
    signals: code-symbol density in basis points (braces, parens,
    operators via a single char-class strip — the translate-style
    zero-regex-backtracking pattern), reserved-word hits, and indented
    lines; the gate needs BOTH density and keywords so symbol-heavy
    prose (case 3) stays prose. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _CODE_TEXT, "text")
    sym = F.length(F.regexp_replace("text", r"[^{}();=<>\[\]]", ""))
    kw = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b(def|function|class|import|return|const|var)\b"),
        F.lit(0)))
    n = F.length("text")
    sym_bp = F.expr(
        "length(regexp_replace(text, '[^{}();=<>\\\\[\\\\]]', '')) * 10000"
        " div GREATEST(length(text), 1)")
    return docs.select(
        "doc",
        n.cast("bigint").alias("n_chars"),
        sym.cast("bigint").alias("symbol_chars"),
        sym_bp.cast("bigint").alias("symbol_bp"),
        kw.cast("bigint").alias("kw_hits"),
        F.size(F.regexp_extract_all("text", F.lit(r"(?m)^(    |\t)"),
                                    F.lit(0)))
        .cast("bigint").alias("indented_lines"),
        ((sym_bp >= 300) & (kw >= 2)).cast("int").alias("is_code"))


_CITED_TEXT = (
    ["Fact one.[1] Fact two.[2] More on this topic.[1] Tail ", 5, "\n"
     "References\n[1] Source A\n[2] Source B"],
    ["Plain paragraph without citations ", 7, "."],
    ["Claim.[12] Another claim.[3] And a third.[12] ", 3, "\nBibliography\n"
     "[3] Paper X"],
    ["Text mentioning a [TODO] placeholder ", 9, "."],
)
_CITED_TEXT_SQL = _docs_sql(_CITED_TEXT, "text")


@query(
    "citation_density",
    f"""
    WITH u AS ({_CITED_TEXT_SQL}),
    split AS (
      SELECT doc, text,
             regexp_replace(text, '(?s)(?m)^(References|Bibliography)$.*',
                            '') AS body,
             CAST(regexp_matches(text,
                  '(?m)^(References|Bibliography)$') AS INT) AS has_refs
      FROM u)
    SELECT doc, has_refs,
           CAST(len(regexp_extract_all(body, '\\[[0-9]{{1,3}}\\]'))
               AS BIGINT) AS n_citations,
           CAST(len(list_distinct(regexp_extract_all(body,
                '\\[[0-9]{{1,3}}\\]'))) AS BIGINT) AS n_distinct_refs,
           CAST(len(regexp_extract_all(body, '\\[[0-9]{{1,3}}\\]')) * 1000
                // GREATEST(len(regexp_extract_all(body, '[^ \t\n]+')), 1)
               AS BIGINT) AS citations_per_kword
    FROM split
    """,
)
def q_citation_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiki-style citation-density scoring — bracketed numeric markers per
    1000 body words plus a References/Bibliography section flag, a strong
    referenced-quality prior for encyclopedic corpus curation (the signal
    behind "cited text is high quality" heuristics). The reference
    section is cut BEFORE counting so its own [n] labels don't inflate
    the density; non-numeric brackets ([TODO]) never count. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _CITED_TEXT, "text")
    body = F.regexp_replace(
        "text", r"(?s)(?m)^(References|Bibliography)$.*", "")
    cite_pat = r"\[[0-9]{1,3}\]"
    cites = F.regexp_extract_all(body, F.lit(cite_pat), F.lit(0))
    words = F.size(F.regexp_extract_all(body, F.lit("[^ \t\n]+"), F.lit(0)))
    return docs.select(
        "doc",
        F.col("text").rlike(r"(?m)^(References|Bibliography)$")
        .cast("int").alias("has_refs"),
        F.size(cites).cast("bigint").alias("n_citations"),
        F.size(F.array_distinct(cites)).cast("bigint")
        .alias("n_distinct_refs"),
        F.expr("CAST(size(regexp_extract_all(regexp_replace(text,"
               " '(?s)(?m)^(References|Bibliography)$.*', ''),"
               " '\\\\[[0-9]{1,3}\\\\]', 0)) * 1000 AS BIGINT)"
               " div GREATEST(size(regexp_extract_all(regexp_replace(text,"
               " '(?s)(?m)^(References|Bibliography)$.*', ''),"
               " '[^ \\t\\n]+', 0)), 1)")
        .cast("bigint").alias("citations_per_kword"))


_TOX_TEXT = (
    ["What the hell is this damn thing doing ", 5],
    ["A perfectly pleasant paragraph about gardens ", 7, "."],
    ["I hate this stupid broken idiot machine, what the hell."],
    ["Shell shellfish hello helluva hatering ", 3],
)
_TOX_TEXT_SQL = _docs_sql(_TOX_TEXT, "text")


@query(
    "toxicity_gate",
    f"""
    WITH u AS ({_TOX_TEXT_SQL}),
    hits AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(damn|hell|idiot|stupid|hate)\\b')) AS BIGINT)
               AS n_hits,
             CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
               AS n_words
      FROM u)
    SELECT doc, n_hits, n_words,
           CAST(n_hits * 1000 // GREATEST(n_words, 1) AS BIGINT)
             AS hits_per_kword,
           CAST(CASE WHEN n_hits * 1000 // GREATEST(n_words, 1) >= 300
                THEN 1 ELSE 0 END AS INT) AS gated
    FROM hits
    """,
)
def q_toxicity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic wordlist toxicity gate — the first-pass profanity
    filter every corpus pipeline runs before a learned classifier
    exists (C4 ran exactly this against a public denylist). Whole-word
    case-insensitive matches only, so 'shell'/'hello'/'hatering' never
    count (the substring false-positive class that naive filters hit);
    density in hits-per-1000-words gates, not raw counts, so long
    documents aren't penalized for one quote. Zero-shuffle projection;
    the denylist is a stand-in — the real list broadcasts the same way."""
    docs = _docs(spark, sf_dir, _TOX_TEXT, "text")
    hits = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?i)\b(damn|hell|idiot|stupid|hate)\b"), F.lit(0)))
    words = F.size(F.regexp_extract_all("text", F.lit("[^ ]+"), F.lit(0)))
    per_kw = F.expr(
        "size(regexp_extract_all(text,"
        " '(?i)\\\\b(damn|hell|idiot|stupid|hate)\\\\b', 0)) * 1000"
        " div GREATEST(size(regexp_extract_all(text, '[^ ]+', 0)), 1)")
    return docs.select(
        "doc", hits.cast("bigint").alias("n_hits"),
        words.cast("bigint").alias("n_words"),
        per_kw.cast("bigint").alias("hits_per_kword"),
        (per_kw >= 300).cast("int").alias("gated"))


_CODEQ_TEXT = (
    ["def f(x):\n    return x + 1\n# step ", 7, "\nprint(f(2))"],
    ["# DO NOT EDIT - generated by protoc\ndef g():\n    pass\n# v", 3],
    ["short line ", 5, "\n" + "aaaa; " * 30],
    ['payload = "' + "QUJD" * 16 + '"\nrest = ', 3],
    ["This module documents the parser behavior in plain prose. ", 5],
)
_CODEQ_TEXT_SQL = _docs_sql(_CODEQ_TEXT, "text")

_CODEQ_SQL = (
    "WITH u AS (" + _CODEQ_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             CAST(list_max(list_transform(string_split(text, chr(10)),
                  l -> length(l))) AS BIGINT) AS max_line_len,
             CAST(len(list_filter(string_split(text, chr(10)),
                  l -> length(l) > 120)) AS BIGINT) AS n_long_lines,
             CAST(CASE WHEN regexp_matches(text,
                  '(?i)(do not edit|@generated|auto-generated)')
                THEN 1 ELSE 0 END AS INT) AS autogen,
             CAST(CASE WHEN regexp_matches(text, '[A-Za-z0-9+/=]{60,}')
                THEN 1 ELSE 0 END AS INT) AS has_b64_blob
      FROM u)
    SELECT doc, n_lines, max_line_len, n_long_lines, autogen, has_b64_blob,
           CAST(CASE WHEN autogen = 0 AND has_b64_blob = 0
                      AND max_line_len <= 120
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """
)


@query("code_quality", _CODEQ_SQL)
def q_code_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-file quality filter — the per-file gates The-Stack-style code
    corpora apply after license screening: max/long-line stats catch
    minified or data-dump files, 'DO NOT EDIT'/@generated markers catch
    autogenerated output (near-zero training value, massive volume), and
    60+-char base64 runs catch embedded binary blobs. All signals are
    in-row array/regex projections over the line split — zero shuffle,
    the shape that survives a 10^12-file corpus."""
    docs = _docs(spark, sf_dir, _CODEQ_TEXT, "text")
    lines = F.split("text", "\n")
    base = docs.select(
        "doc",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.array_max(F.transform(lines, lambda l: F.length(l)))
        .cast("bigint").alias("max_line_len"),
        F.size(F.filter(lines, lambda l: F.length(l) > 120))
        .cast("bigint").alias("n_long_lines"),
        F.col("text").rlike("(?i)(do not edit|@generated|auto-generated)")
        .cast("int").alias("autogen"),
        F.col("text").rlike("[A-Za-z0-9+/=]{60,}")
        .cast("int").alias("has_b64_blob"))
    return base.select(
        "doc", "n_lines", "max_line_len", "n_long_lines", "autogen",
        "has_b64_blob",
        ((F.col("autogen") == 0) & (F.col("has_b64_blob") == 0)
         & (F.col("max_line_len") <= 120)).cast("int").alias("keep"))


_MATH_TEXT = (
    ["We have $x^2 + y^2 = z^2$ and \\frac{a}{b} with \\sum_{i=1}^{n} i of "
     "order ", 5],
    ["E = m c^2 and 2 + 2 = 4 and 10 / 5 = 2 case ", 7],
    ["The cost is $5 and the budget is $10 for supplies batch ", 3],
    ["Theorem: let n be an integer. Proof: n times n is n^2. QED ", 5],
)
_MATH_TEXT_SQL = _docs_sql(_MATH_TEXT, "text")

_MATH_SQL = (
    "WITH u AS (" + _MATH_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\$[^$]*(\\^|_|\\\\)[^$]*\\$')) AS BIGINT)
               AS n_inline_math,
             CAST(len(regexp_extract_all(text,
                  '\\\\(frac|sum|int|sqrt|begin|alpha|beta)')) AS BIGINT)
               AS n_latex_cmds,
             CAST(len(regexp_extract_all(text,
                  '[0-9A-Za-z] = [0-9A-Za-z]')) AS BIGINT) AS n_equations,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(theorem|lemma|proof|corollary|equation|integer)\\b'
                  )) AS BIGINT) AS n_math_words
      FROM u)
    SELECT doc, n_inline_math, n_latex_cmds, n_equations, n_math_words,
           CAST(CASE WHEN n_inline_math + n_latex_cmds >= 1
                      OR n_equations >= 2 OR n_math_words >= 2
                THEN 1 ELSE 0 END AS INT) AS is_math
    FROM m
    """
)


@query("math_detect", _MATH_SQL)
def q_math_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-content detection — the OpenWebMath/ProofPile routing signal:
    LaTeX inline spans ($...$ that actually contain an operator, so '$5
    and $10' price prose never counts — the classic false positive),
    LaTeX commands, spaced equations, and theorem-prose keywords. Pages
    that gate here route to a math-preserving extractor instead of the
    default boilerplate strip (which destroys equations). Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _MATH_TEXT, "text")
    inline = F.size(F.regexp_extract_all(
        "text", F.lit(r"\$[^$]*(\^|_|\\)[^$]*\$"), F.lit(0)))
    cmds = F.size(F.regexp_extract_all(
        "text", F.lit(r"\\(frac|sum|int|sqrt|begin|alpha|beta)"), F.lit(0)))
    eqs = F.size(F.regexp_extract_all(
        "text", F.lit("[0-9A-Za-z] = [0-9A-Za-z]"), F.lit(0)))
    words = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(theorem|lemma|proof|corollary|equation|integer)\b"),
        F.lit(0)))
    base = docs.select(
        "doc", inline.cast("bigint").alias("n_inline_math"),
        cmds.cast("bigint").alias("n_latex_cmds"),
        eqs.cast("bigint").alias("n_equations"),
        words.cast("bigint").alias("n_math_words"))
    return base.select(
        "doc", "n_inline_math", "n_latex_cmds", "n_equations",
        "n_math_words",
        ((F.col("n_inline_math") + F.col("n_latex_cmds") >= 1)
         | (F.col("n_equations") >= 2) | (F.col("n_math_words") >= 2))
        .cast("int").alias("is_math"))


_QA_TEXT = (
    ["Q: How do I reset my password?\nA: Click the reset link.\nQ: Where is "
     "order ", 5, "?\nA: Check the tracking page."],
    ['<script type="application/ld+json">{"@type": '
     '"FAQPage"}</script><p>Help center ', 3, "</p>"],
    ["Could it be better? Perhaps. We walked home ", 3],
    ["Interviewer: What inspired you?\nGuest: The mountains.\nInterviewer: "
     "Why now?\nGuest: Because ", 3],
)
_QA_TEXT_SQL = _docs_sql(_QA_TEXT, "text")

_QA_SQL = (
    "WITH u AS (" + _QA_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text, '(?m)^Q: ')) AS BIGINT)
               AS n_q_markers,
             CAST(len(regexp_extract_all(text, '(?m)^A: ')) AS BIGINT)
               AS n_a_markers,
             CAST(len(list_filter(string_split(text, chr(10)),
                  l -> l LIKE '%?')) AS BIGINT) AS n_question_lines,
             CAST(CASE WHEN strpos(text, '"@type": "FAQPage"') > 0
                THEN 1 ELSE 0 END AS INT) AS faq_schema
      FROM u)
    SELECT doc, n_q_markers, n_a_markers, n_question_lines, faq_schema,
           CAST(LEAST(n_q_markers, n_a_markers) AS BIGINT) AS qa_pairs,
           CAST(CASE WHEN LEAST(n_q_markers, n_a_markers) >= 1
                      OR faq_schema = 1
                THEN 1 ELSE 0 END AS INT) AS is_qa
    FROM m
    """
)


@query("qa_page_detect", _QA_SQL)
def q_qa_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q&A page detection — FAQ and interview pages are the natural-
    question stratum instruction-tuning corpora mine first. Signals:
    line-anchored Q:/A: markers (paired via LEAST — an answerless
    question list isn't Q&A), schema.org FAQPage JSON-LD, and
    ?-terminated lines (exposed but not gating alone: one rhetorical
    question in prose is the false-positive control). Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _QA_TEXT, "text")
    nq = F.size(F.regexp_extract_all("text", F.lit("(?m)^Q: "), F.lit(0)))
    na = F.size(F.regexp_extract_all("text", F.lit("(?m)^A: "), F.lit(0)))
    qlines = F.size(F.filter(F.split("text", "\n"),
                             lambda l: l.endswith("?")))
    faq = F.col("text").contains('"@type": "FAQPage"').cast("int")
    base = docs.select(
        "doc", nq.cast("bigint").alias("n_q_markers"),
        na.cast("bigint").alias("n_a_markers"),
        qlines.cast("bigint").alias("n_question_lines"),
        faq.alias("faq_schema"))
    return base.select(
        "doc", "n_q_markers", "n_a_markers", "n_question_lines",
        "faq_schema",
        F.least("n_q_markers", "n_a_markers").cast("bigint")
        .alias("qa_pairs"),
        ((F.least("n_q_markers", "n_a_markers") >= 1)
         | (F.col("faq_schema") == 1)).cast("int").alias("is_qa"))


_TRANS_TEXT = (
    ["1\n00:00:01,000 --> 00:00:04,000\nHello there\n\n2\n00:00:05,000 --> "
     "00:00:08,000\nWelcome back ", 9],
    ["HOST: Welcome to the show ", 5, "\nGUEST: Thanks for having me\nHOST: "
     "Here we go"],
    ["The meeting ran from 9:30 to 11:00 and covered budgets ", 3],
    ["0:01 intro\n0:45 setup\n2:30 main topic\n5:10 conclusion ", 7],
)
_TRANS_TEXT_SQL = _docs_sql(_TRANS_TEXT, "text")

_TRANS_SQL = (
    "WITH u AS (" + _TRANS_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?\\b')) AS BIGINT)
               AS n_timestamps,
             CAST(len(regexp_extract_all(text, '-->')) AS BIGINT)
               AS n_arrows,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[A-Z][A-Za-z]*: ')) AS BIGINT) AS n_speaker_lines
      FROM u)
    SELECT doc, n_timestamps, n_arrows, n_speaker_lines,
           CAST(CASE WHEN n_arrows >= 1 OR n_timestamps >= 3
                      OR n_speaker_lines >= 2
                THEN 1 ELSE 0 END AS INT) AS is_transcript
    FROM m
    """
)


@query("transcript_detect", _TRANS_SQL)
def q_transcript_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript/subtitle detection — SRT cue arrows, dense
    HH:MM(:SS) timestamps, and line-anchored SPEAKER: labels mark
    spoken-word pages (captions, podcast transcripts, chapter lists)
    that need a different cleaning path than article prose (cue numbers
    and timestamps are boilerplate there, not content). Two clock
    mentions in prose ('ran from 9:30 to 11:00') stay below the
    3-timestamp gate — the false-positive control. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _TRANS_TEXT, "text")
    ts = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?\b"), F.lit(0)))
    arrows = F.size(F.regexp_extract_all("text", F.lit("-->"), F.lit(0)))
    speakers = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^[A-Z][A-Za-z]*: "), F.lit(0)))
    base = docs.select(
        "doc", ts.cast("bigint").alias("n_timestamps"),
        arrows.cast("bigint").alias("n_arrows"),
        speakers.cast("bigint").alias("n_speaker_lines"))
    return base.select(
        "doc", "n_timestamps", "n_arrows", "n_speaker_lines",
        ((F.col("n_arrows") >= 1) | (F.col("n_timestamps") >= 3)
         | (F.col("n_speaker_lines") >= 2)).cast("int")
        .alias("is_transcript"))


_QUOTE_TEXT = (
    ['"We expect growth this quarter," said the minister. "The plan is on '
     'track," she added. Briefing ', 5],
    ["No quoted material appears in this plain paragraph at all ", 7],
    ['He wrote "alpha" then "beta" then "gamma" on the board ', 3],
    ['The sign read "No entry beyond this point" at the gate ', 3],
)
_QUOTE_TEXT_SQL = _docs_sql(_QUOTE_TEXT, "text")

_QUOTE_SQL = (
    "WITH u AS (" + _QUOTE_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text, '"[^"]+"')) AS BIGINT)
               AS n_quotes,
             CAST(COALESCE(list_sum(list_transform(
                  regexp_extract_all(text, '"[^"]+"'),
                  s -> length(s))), 0) AS BIGINT) AS quoted_chars,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(said|says|asked|added|according to)\\b'))
                  AS BIGINT) AS n_attrib,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM u)
    SELECT doc, n_quotes, quoted_chars, n_attrib,
           CAST(quoted_chars * 10000 // GREATEST(n_chars, 1) AS BIGINT)
             AS quoted_bp,
           CAST(CASE WHEN n_quotes >= 2 AND n_attrib >= 1
                THEN 1 ELSE 0 END AS INT) AS has_dialog
    FROM m
    """
)


@query("quote_density", _QUOTE_SQL)
def q_quote_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-density scoring — attributed quotation ('...,' said X) is a
    strong journalism/reportage signal, and quoted-mass basis points
    separate dialog-heavy fiction and interviews from expository prose
    for corpus mixing. The has_dialog gate needs BOTH repeated quotes
    and an attribution verb, so a single quoted sign ('The sign read
    "..."') never counts as dialog. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _QUOTE_TEXT, "text")
    spans = F.regexp_extract_all("text", F.lit('"[^"]+"'), F.lit(0))
    base = docs.select(
        "doc",
        F.size(spans).cast("bigint").alias("n_quotes"),
        F.aggregate(spans, F.lit(0).cast("bigint"),
                    lambda a, s: a + F.length(s))
        .cast("bigint").alias("quoted_chars"),
        F.size(F.regexp_extract_all(
            "text",
            F.lit(r"(?i)\b(said|says|asked|added|according to)\b"),
            F.lit(0))).cast("bigint").alias("n_attrib"),
        F.length("text").cast("bigint").alias("n_chars"))
    return base.select(
        "doc", "n_quotes", "quoted_chars", "n_attrib",
        F.expr("quoted_chars * 10000 div GREATEST(n_chars, 1)")
        .cast("bigint").alias("quoted_bp"),
        ((F.col("n_quotes") >= 2) & (F.col("n_attrib") >= 1))
        .cast("int").alias("has_dialog"))


_SENT_TEXT = (
    ["The sky was clear. We walked to the lake ", 5, ". It was a fine day! "
     "Was it not? Indeed."],
    ["this is a run on line with no punctuation at all ", 7],
    ["Yes. No. Maybe. Stop ", 3, "."],
)
_SENT_TEXT_SQL = _docs_sql(_SENT_TEXT, "text")

_SENT_SQL = (
    "WITH u AS (" + _SENT_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text, '[^.!?]+[.!?]+'))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
               AS n_words,
             CAST(COALESCE(list_sum(list_transform(
                  regexp_extract_all(text, '[^.!?]+[.!?]+'),
                  s -> length(s))), 0) AS BIGINT) AS sent_chars,
             CAST(CASE WHEN regexp_matches(text, '[.!?]$')
                THEN 1 ELSE 0 END AS INT) AS ends_terminated
      FROM u)
    SELECT doc, n_sentences, n_words, ends_terminated,
           CAST(n_words * 100 // GREATEST(n_sentences, 1) AS BIGINT)
             AS words_per_sent_x100,
           CAST(sent_chars // GREATEST(n_sentences, 1) AS BIGINT)
             AS avg_sent_chars
    FROM m
    """
)


@query("sentence_stats", _SENT_SQL)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation moments — terminated-sentence count, words
    per sentence (x100 fixed point), average sentence chars, and the
    ends-terminated flag. These are the distributional inputs quality
    models key on: run-on unterminated text scores 0 sentences (the C4
    'terminal punctuation' rule), choppy navigation text shows tiny
    sentence lengths. Terminated spans only, so a trailing fragment
    never inflates the count. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _SENT_TEXT, "text")
    sents = F.regexp_extract_all("text", F.lit("[^.!?]+[.!?]+"), F.lit(0))
    base = docs.select(
        "doc",
        F.size(sents).cast("bigint").alias("n_sentences"),
        F.size(F.regexp_extract_all("text", F.lit("[^ ]+"), F.lit(0)))
        .cast("bigint").alias("n_words"),
        F.aggregate(sents, F.lit(0).cast("bigint"),
                    lambda a, s: a + F.length(s))
        .cast("bigint").alias("sent_chars"),
        F.col("text").rlike("[.!?]$").cast("int").alias("ends_terminated"))
    return base.select(
        "doc", "n_sentences", "n_words", "ends_terminated",
        F.expr("n_words * 100 div GREATEST(n_sentences, 1)")
        .cast("bigint").alias("words_per_sent_x100"),
        F.expr("sent_chars div GREATEST(n_sentences, 1)")
        .cast("bigint").alias("avg_sent_chars"))


_PLACEHOLDER_TEXT = (
    ["Lorem ipsum dolor sit amet, consectetur adipiscing elit ", 5],
    ["This is a sample page. Replace this text with your content. Under "
     "construction ", 3],
    ["The harvest festival drew record crowds this year ", 7],
    ["Example Domain. This domain is for use in illustrative examples in "
     "documents ", 3],
)
_PLACEHOLDER_TEXT_SQL = _docs_sql(_PLACEHOLDER_TEXT, "text")

_PLACEHOLDER_SQL = (
    "WITH u AS (" + _PLACEHOLDER_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)(lorem ipsum|dolor sit amet|consectetur)'))
                  AS BIGINT) AS lorem_hits,
             CAST(len(regexp_extract_all(text,
                  '(?i)(under construction|replace this text|sample '
                  || 'page|coming soon|example domain|illustrative '
                  || 'examples)')) AS BIGINT) AS placeholder_hits
      FROM u)
    SELECT doc, lorem_hits, placeholder_hits,
           CAST(CASE WHEN lorem_hits >= 1 OR placeholder_hits >= 2
                THEN 1 ELSE 0 END AS INT) AS is_placeholder
    FROM m
    """
)


@query("placeholder_detect", _PLACEHOLDER_SQL)
def q_placeholder_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placeholder-page detection — lorem-ipsum filler, 'under
    construction' stubs, and the example.com boilerplate are pure noise
    that survives every quality heuristic based on length or
    punctuation (they are well-formed prose). One lorem marker
    suffices; generic phrases need two so a single 'coming soon' in a
    real article never gates. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _PLACEHOLDER_TEXT, "text")
    lorem = F.size(F.regexp_extract_all(
        "text", F.lit("(?i)(lorem ipsum|dolor sit amet|consectetur)"),
        F.lit(0)))
    ph = F.size(F.regexp_extract_all(
        "text",
        F.lit("(?i)(under construction|replace this text|sample page"
              "|coming soon|example domain|illustrative examples)"),
        F.lit(0)))
    base = docs.select(
        "doc", lorem.cast("bigint").alias("lorem_hits"),
        ph.cast("bigint").alias("placeholder_hits"))
    return base.select(
        "doc", "lorem_hits", "placeholder_hits",
        ((F.col("lorem_hits") >= 1) | (F.col("placeholder_hits") >= 2))
        .cast("int").alias("is_placeholder"))


_STUFF_TEXT = (
    ["cheap flights cheap flights cheap flights book cheap flights today ", 3],
    ["the quick brown fox jumps over one lazy dog near the river ", 5],
    ["widget sale widget deals widget prices best widget offers ", 7],
)
_STUFF_TEXT_SQL = _docs_sql(_STUFF_TEXT, "text")

_STUFF_SQL = (
    "WITH u AS (" + _STUFF_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(list_max(list_transform(
                  list_distinct(string_split(text, ' ')),
                  d -> len(list_filter(string_split(text, ' '),
                           w -> w = d)))) AS BIGINT) AS top_word_count
      FROM u)
    SELECT doc, n_words, top_word_count,
           CAST(top_word_count * 10000 // GREATEST(n_words, 1) AS BIGINT)
             AS top_word_share_bp,
           CAST(CASE WHEN top_word_count * 10000 // GREATEST(n_words, 1)
                       >= 2500 AND n_words >= 8
                THEN 1 ELSE 0 END AS INT) AS stuffed
    FROM m
    """
)


@query("keyword_stuffing", _STUFF_SQL)
def q_keyword_stuffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-stuffing detection — SEO spam repeats its target phrase
    until it dominates the token stream; the top-word share in basis
    points is the gate (>=25% of >=8 words). Computed entirely in-row
    with nested array lambdas (distinct -> per-candidate count -> max),
    so no tokenize-explode shuffle: at corpus scale this is a projection,
    and the O(words x distinct) in-row cost is bounded by the doc-length
    cap upstream. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _STUFF_TEXT, "text")
    ws = F.split("text", " ")
    base = docs.select(
        "doc",
        F.size(ws).cast("bigint").alias("n_words"),
        F.array_max(F.transform(
            F.array_distinct(ws),
            lambda d: F.size(F.filter(ws, lambda w: w == d))))
        .cast("bigint").alias("top_word_count"))
    return base.select(
        "doc", "n_words", "top_word_count",
        F.expr("top_word_count * 10000 div GREATEST(n_words, 1)")
        .cast("bigint").alias("top_word_share_bp"),
        ((F.expr("top_word_count * 10000 div GREATEST(n_words, 1)")
          >= 2500) & (F.col("n_words") >= 8)).cast("int")
        .alias("stuffed"))


_DUMP_TEXT = (
    ["2024-01-15 12:00:01 INFO request from 10.0.0.1 took 23ms\n2024-01-15 "
     "12:00:02 INFO request from 192.168.1.100 took 41ms case ", 5],
    ["row 550e8400-e29b-41d4-a716-446655440000 and "
     "6ba7b810-9dad-11d1-80b4-00c04fd430c8 and hash deadbeefcafe1234 ", 3],
    ["A calm essay about morning walks in the park ", 7],
    ["id,value\n10,2031\n22,4172\n31,8839\n44,1207 case ", 3],
)
_DUMP_TEXT_SQL = _docs_sql(_DUMP_TEXT, "text")

_DUMP_SQL = (
    "WITH u AS (" + _DUMP_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-'
                  || '[0-9a-f]{12}\\b')) AS BIGINT) AS n_uuids,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9a-f]{12,}\\b')) AS BIGINT) AS n_hex_runs,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'
                  || '\\b')) AS BIGINT) AS n_ips,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]{4}-[0-9]{2}-[0-9]{2} '
                  || '[0-9]{2}:[0-9]{2}:[0-9]{2}\\b')) AS BIGINT)
               AS n_iso_ts,
             CAST((length(text) - length(regexp_replace(text, '[0-9]',
                  '', 'g'))) * 10000 // GREATEST(length(text), 1)
                  AS BIGINT) AS digit_ratio_bp
      FROM u)
    SELECT doc, n_uuids, n_hex_runs, n_ips, n_iso_ts, digit_ratio_bp,
           CAST(CASE WHEN n_uuids + n_hex_runs >= 2 OR n_ips >= 2
                      OR n_iso_ts >= 2 OR digit_ratio_bp >= 3000
                THEN 1 ELSE 0 END AS INT) AS is_dump
    FROM m
    """
)


@query("data_dump_detect", _DUMP_SQL)
def q_data_dump_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-generated data-dump detection — server logs, CSV exports,
    and id tables leak into crawls by the billions of pages and poison
    LM training (models memorize UUIDs and IPs). Signals: UUIDs, long
    hex runs (a UUID's 12-char tail also counts — overlapping signals
    feeding one gate), dotted IPs, ISO log timestamps, and overall
    digit-mass basis points; any two structured ids or a 30%+ digit
    ratio gates. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _DUMP_TEXT, "text")
    uuids = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
              r"-[0-9a-f]{12}\b"), F.lit(0)))
    hexr = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9a-f]{12,}\b"), F.lit(0)))
    ips = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
        F.lit(0)))
    ts = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"\b[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\b"),
        F.lit(0)))
    digits = F.length("text") - F.length(
        F.regexp_replace("text", "[0-9]", ""))
    raw = docs.select(
        "doc", uuids.cast("bigint").alias("n_uuids"),
        hexr.cast("bigint").alias("n_hex_runs"),
        ips.cast("bigint").alias("n_ips"),
        ts.cast("bigint").alias("n_iso_ts"),
        digits.cast("bigint").alias("n_digits"),
        F.length("text").cast("bigint").alias("n_chars"))
    base = raw.select(
        "doc", "n_uuids", "n_hex_runs", "n_ips", "n_iso_ts",
        F.expr("n_digits * 10000 div GREATEST(n_chars, 1)")
        .cast("bigint").alias("digit_ratio_bp"))
    return base.select(
        "doc", "n_uuids", "n_hex_runs", "n_ips", "n_iso_ts",
        "digit_ratio_bp",
        ((F.col("n_uuids") + F.col("n_hex_runs") >= 2)
         | (F.col("n_ips") >= 2) | (F.col("n_iso_ts") >= 2)
         | (F.col("digit_ratio_bp") >= 3000)).cast("int")
        .alias("is_dump"))


_LEGAL_TEXT = (
    ["Terms of Service\n1.1 The Company shall provide the service. 1.2 The "
     "User shall not resell access. Liability is limited ", 3],
    ["Privacy Policy\nWe collect the following categories of personal data. "
     "You may opt out at any time ", 5],
    ["This Agreement, hereinafter the Contract, shall be governed by the "
     "laws of the State. The parties hereto agree ", 3],
    ["The hiking club met at dawn for the ridge traverse ", 7],
)
_LEGAL_TEXT_SQL = _docs_sql(_LEGAL_TEXT, "text")

_LEGAL_SQL = (
    "WITH u AS (" + _LEGAL_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(terms of service|privacy policy|end user '
                  || 'license|acceptable use policy)\\b')) AS BIGINT)
               AS n_legal_titles,
             CAST(len(regexp_extract_all(text, '\\bshall\\b'))
                  AS BIGINT) AS n_shall,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(hereinafter|hereto|herein|thereof|whereas|'
                  || 'indemnif(y|ication))\\b')) AS BIGINT) AS n_legalese,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]+\\.[0-9]+ [A-Z]')) AS BIGINT)
               AS n_section_nums
      FROM u)
    SELECT doc, n_legal_titles, n_shall, n_legalese, n_section_nums,
           CAST(CASE WHEN n_legal_titles >= 1 OR n_legalese >= 2
                      OR (n_shall >= 2 AND n_section_nums >= 1)
                THEN 1 ELSE 0 END AS INT) AS is_legal
    FROM m
    """
)


@query("legal_doc_detect", _LEGAL_SQL)
def q_legal_doc_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legal-boilerplate detection — ToS/privacy-policy pages are among
    the most duplicated documents on the web (every site carries a
    near-identical copy), so corpus pipelines detect and collapse them
    before dedup wastes candidate budget. Signals: canonical titles,
    'shall' density with numbered sections, and legalese vocabulary.
    Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _LEGAL_TEXT, "text")
    titles = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(terms of service|privacy policy|end user license"
              r"|acceptable use policy)\b"), F.lit(0)))
    shall = F.size(F.regexp_extract_all(
        "text", F.lit(r"\bshall\b"), F.lit(0)))
    legalese = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(hereinafter|hereto|herein|thereof|whereas"
              r"|indemnif(y|ication))\b"), F.lit(0)))
    sections = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]+\.[0-9]+ [A-Z]"), F.lit(0)))
    base = docs.select(
        "doc", titles.cast("bigint").alias("n_legal_titles"),
        shall.cast("bigint").alias("n_shall"),
        legalese.cast("bigint").alias("n_legalese"),
        sections.cast("bigint").alias("n_section_nums"))
    return base.select(
        "doc", "n_legal_titles", "n_shall", "n_legalese",
        "n_section_nums",
        ((F.col("n_legal_titles") >= 1) | (F.col("n_legalese") >= 2)
         | ((F.col("n_shall") >= 2) & (F.col("n_section_nums") >= 1)))
        .cast("int").alias("is_legal"))


_ACRO_TEXT = (
    ["The Central Processing Unit (CPU) runs the show case ", 5],
    ["We signed the Free Trade Agreement (FTA) today round ", 3],
    ["The Big Announcement (NASA) surprised everyone ", 7],
    ["No parenthetical definitions appear here at all ", 3],
)
_ACRO_TEXT_SQL = _docs_sql(_ACRO_TEXT, "text")

_ACRO_PAT = "((?:[A-Z][a-z]+ ){1,5})\\(([A-Z]{2,6})\\)"

_ACRO_SQL = (
    "WITH u AS (" + _ACRO_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             nullif(trim(regexp_extract(text,
                 '((?:[A-Z][a-z]+ ){1,5})\\(([A-Z]{2,6})\\)', 1)), '')
               AS phrase,
             nullif(regexp_extract(text,
                 '((?:[A-Z][a-z]+ ){1,5})\\(([A-Z]{2,6})\\)', 2), '')
               AS acronym
      FROM u),
    v AS (
      SELECT doc, phrase, acronym,
             CASE WHEN acronym IS NOT NULL THEN
               array_to_string(list_transform(
                 (string_split(phrase, ' '))
                   [GREATEST(len(string_split(phrase, ' '))
                             - length(acronym) + 1, 1)
                    : len(string_split(phrase, ' '))],
                 w -> substr(w, 1, 1)), '')
             END AS initials
      FROM m)
    SELECT doc, phrase, acronym, initials,
           CAST(CASE WHEN initials = acronym THEN 1 ELSE 0 END AS INT)
             AS is_valid
    FROM v
    """
)


@query("acronym_defs", _ACRO_SQL)
def q_acronym_defs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acronym-definition mining — 'Expanded Phrase (ACRO)' patterns
    are the classic glossary seed for domain corpora, but the raw
    pattern over-captures ('The Big Announcement (NASA)'), so the
    initials of the LAST len(acronym) captured words must equal the
    acronym for the pair to validate. Candidate extraction is one
    regex; validation is in-row array slicing + initials concat —
    identical list arithmetic in both engines. No-definition documents
    yield NULLs, never ''. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _ACRO_TEXT, "text")
    phrase = F.nullif(F.trim(F.regexp_extract("text", _ACRO_PAT, 1)),
                      F.lit(""))
    acro = F.nullif(F.regexp_extract("text", _ACRO_PAT, 2), F.lit(""))
    m2 = docs.select("doc", phrase.alias("phrase"),
                     acro.alias("acronym"))
    words = F.split("phrase", " ")
    initials = F.when(
        F.col("acronym").isNotNull(),
        F.concat_ws("", F.transform(
            F.slice(words,
                    F.greatest(F.size(words) - F.length("acronym") + 1,
                               F.lit(1)),
                    F.length("acronym")),
            lambda w: F.substring(w, 1, 1))))
    v = m2.select("doc", "phrase", "acronym",
                  initials.alias("initials"))
    return v.select(
        "doc", "phrase", "acronym", "initials",
        F.when(F.col("initials") == F.col("acronym"), 1).otherwise(0)
        .cast("int").alias("is_valid"))


_SNIFF_TEXT = (
    ["name,age,city\nalice,30,berlin\nbob,25,paris\ncarl,41,rome"],
    ["id\tvalue\n1\t10\n2\t20"],
    ["a|b|c\n1|2|3\n4|5|6"],
    ["just a plain sentence without structure ", 3],
)
_SNIFF_TEXT_SQL = _docs_sql(_SNIFF_TEXT, "text")


_SNIFF_SQL = (
    "WITH u AS (" + _SNIFF_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc, text,
             list_min(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, ',', '')))) AS c_mn,
             list_max(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, ',', '')))) AS c_mx,
             list_min(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, chr(9), '')))) AS t_mn,
             list_max(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, chr(9), '')))) AS t_mx,
             list_min(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, '|', '')))) AS p_mn,
             list_max(list_transform(string_split(text, chr(10)),
               l -> length(l) - length(replace(l, '|', '')))) AS p_mx,
             CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_rows
      FROM u),
    pick AS (
      SELECT doc, text, n_rows,
             CASE WHEN c_mn = c_mx AND c_mn > 0 THEN 'comma'
                  WHEN t_mn = t_mx AND t_mn > 0 THEN 'tab'
                  WHEN p_mn = p_mx AND p_mn > 0 THEN 'pipe'
             END AS delim,
             CASE WHEN c_mn = c_mx AND c_mn > 0 THEN c_mn + 1
                  WHEN t_mn = t_mx AND t_mn > 0 THEN t_mn + 1
                  WHEN p_mn = p_mx AND p_mn > 0 THEN p_mn + 1
             END AS n_cols
      FROM m)
    SELECT doc, delim, CAST(n_cols AS BIGINT) AS n_cols, n_rows,
           CAST(CASE WHEN delim IS NOT NULL
                  AND len(regexp_extract_all(
                        string_split(text, chr(10))[1], '[0-9]')) = 0
                  AND len(regexp_extract_all(text, '[0-9]')) > 0
                THEN 1 ELSE 0 END AS INT) AS has_header
    FROM pick
    """
)


@query("delimiter_sniff", _SNIFF_SQL)
def q_delimiter_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimiter sniffing for embedded tabular text — a delimiter is
    accepted when EVERY line carries the same positive count of it
    (the consistency rule real CSV sniffers use), tried in fixed
    comma > tab > pipe priority; header detection flags a digit-free
    first line over digit-bearing data lines. Routes CSV/TSV payloads
    to a columnar parser instead of the prose pipeline. All in-row
    list arithmetic over the line split — zero shuffle."""
    docs = _docs(spark, sf_dir, _SNIFF_TEXT, "text")
    lines = F.split("text", "\n")

    def counts(d: str):
        per = F.transform(
            lines, lambda l: F.length(l)
            - F.length(F.replace(l, F.lit(d), F.lit(""))))
        return F.array_min(per), F.array_max(per)

    c_mn, c_mx = counts(",")
    t_mn, t_mx = counts("\t")
    p_mn, p_mx = counts("|")
    pick = docs.select(
        "doc", "text",
        F.size(lines).cast("bigint").alias("n_rows"),
        F.when((c_mn == c_mx) & (c_mn > 0), F.lit("comma"))
        .when((t_mn == t_mx) & (t_mn > 0), F.lit("tab"))
        .when((p_mn == p_mx) & (p_mn > 0), F.lit("pipe"))
        .alias("delim"),
        F.when((c_mn == c_mx) & (c_mn > 0), c_mn + 1)
        .when((t_mn == t_mx) & (t_mn > 0), t_mn + 1)
        .when((p_mn == p_mx) & (p_mn > 0), p_mn + 1)
        .cast("bigint").alias("n_cols"))
    hdr_digits = F.size(F.regexp_extract_all(
        F.element_at(F.split("text", "\n"), 1), F.lit("[0-9]"),
        F.lit(0)))
    all_digits = F.size(F.regexp_extract_all("text", F.lit("[0-9]"),
                                             F.lit(0)))
    return pick.select(
        "doc", "delim", "n_cols", "n_rows",
        (F.col("delim").isNotNull() & (hdr_digits == 0)
         & (all_digits > 0)).cast("int").alias("has_header"))


_UNIT_TEXT = (
    ["The trail is 5 km long segment ", 3],
    ["A 250 cm plank case ", 5],
    ["The file is 3 mb in size rev ", 3],
    ["Weight: 2 kg exactly lot ", 7],
    ["No measurements mentioned here at all ", 3],
)
_UNIT_TEXT_SQL = _docs_sql(_UNIT_TEXT, "text")

_UNIT_PAT = "\\b([0-9]+) (km|cm|mb|kg|kb|mm|m|g)\\b"

_UNIT_SQL = (
    "WITH u AS (" + _UNIT_TEXT_SQL + "),"
    """
    e AS (
      SELECT doc,
             CAST(nullif(regexp_extract(text,
               '\\b([0-9]+) (km|cm|mb|kg|kb|mm|m|g)\\b', 1), '')
               AS BIGINT) AS qty,
             nullif(regexp_extract(text,
               '\\b([0-9]+) (km|cm|mb|kg|kb|mm|m|g)\\b', 2), '')
               AS unit
      FROM u)
    SELECT doc, qty, unit,
           CAST(CASE unit
                WHEN 'km' THEN qty * 1000000
                WHEN 'm' THEN qty * 1000
                WHEN 'cm' THEN qty * 10
                WHEN 'mm' THEN qty
                WHEN 'kg' THEN qty * 1000
                WHEN 'g' THEN qty
                WHEN 'mb' THEN qty * 1048576
                WHEN 'kb' THEN qty * 1024
           END AS BIGINT) AS canonical,
           CASE WHEN unit IN ('km', 'm', 'cm', 'mm') THEN 'length_mm'
                WHEN unit IN ('kg', 'g') THEN 'mass_g'
                WHEN unit IN ('mb', 'kb') THEN 'bytes'
           END AS dimension
    FROM e
    """
)


@query("unit_normalize", _UNIT_SQL)
def q_unit_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measurement-unit normalization — '<n> <unit>' mentions resolve
    to a canonical integer base (mm / g / bytes) with their dimension
    tag, the cleanup that makes quantities comparable across documents
    (entity linking, fact extraction, spec dedup all consume this).
    Longest-alternative-first regex so '5 km' never half-matches as
    'm'; no-measurement documents yield NULLs. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _UNIT_TEXT, "text")
    qty = F.nullif(F.regexp_extract("text", _UNIT_PAT, 1),
                   F.lit("")).cast("bigint")
    unit = F.nullif(F.regexp_extract("text", _UNIT_PAT, 2), F.lit(""))
    e = docs.select("doc", qty.alias("qty"), unit.alias("unit"))
    canonical = (
        F.when(F.col("unit") == "km", F.col("qty") * 1000000)
        .when(F.col("unit") == "m", F.col("qty") * 1000)
        .when(F.col("unit") == "cm", F.col("qty") * 10)
        .when(F.col("unit") == "mm", F.col("qty"))
        .when(F.col("unit") == "kg", F.col("qty") * 1000)
        .when(F.col("unit") == "g", F.col("qty"))
        .when(F.col("unit") == "mb", F.col("qty") * 1048576)
        .when(F.col("unit") == "kb", F.col("qty") * 1024))
    dim = (
        F.when(F.col("unit").isin("km", "m", "cm", "mm"),
               F.lit("length_mm"))
        .when(F.col("unit").isin("kg", "g"), F.lit("mass_g"))
        .when(F.col("unit").isin("mb", "kb"), F.lit("bytes")))
    return e.select(
        "doc", "qty", "unit",
        canonical.cast("bigint").alias("canonical"),
        dim.alias("dimension"))


@query(
    "hapax_rate",
    """
    WITH w AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    wc AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w WHERE word <> '' GROUP BY lang, word)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(cnt) AS BIGINT) AS tokens,
           CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)
                AS BIGINT) AS hapax,
           CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)
                * 10000 // COUNT(*) AS BIGINT) AS hapax_bp,
           CAST(COUNT(*) * 10000 // SUM(cnt) AS BIGINT)
             AS type_token_bp
    FROM wc GROUP BY lang
    """,
)
def q_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per language — hapax legomena share (words
    seen exactly once in the language's corpus slice) and the
    type/token ratio, the vocabulary-health metrics that expose both
    boilerplate floods (hapax share collapses) and OCR noise (hapax
    share explodes with garbage tokens). Word-keyed counts with
    map-side partials, then a per-language rollup of the vocabulary
    grain."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("word"))
    wc = (w.filter(F.col("word") != "")
          .groupBy("lang", "word")
          .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    return wc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("cnt").cast("bigint").alias("tokens"),
        F.coalesce(F.sum(F.when(F.col("cnt") == 1, 1)), F.lit(0))
        .cast("bigint").alias("hapax"),
        F.expr("COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)"
               " * 10000 div COUNT(*)").cast("bigint")
        .alias("hapax_bp"),
        F.expr("COUNT(*) * 10000 div SUM(cnt)").cast("bigint")
        .alias("type_token_bp"))


@query(
    "good_turing_counts",
    """
    WITH w AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    wc AS (SELECT word, COUNT(*) AS c FROM w
           WHERE word <> '' GROUP BY word),
    coc AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM wc GROUP BY c),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM wc),
    frame AS (SELECT unnest(generate_series(1, 10)) AS r)
    SELECT frame.r,
           COALESCE(a.n_r, 0) AS n_r,
           COALESCE(b.n_r, 0) AS n_r_plus_1,
           CAST(CASE WHEN COALESCE(a.n_r, 0) = 0 THEN 0
                ELSE (frame.r + 1) * COALESCE(b.n_r, 0) * 1000
                     // a.n_r END AS BIGINT) AS gt_r_star_milli,
           CAST(CASE WHEN frame.r = 1
                THEN COALESCE(a.n_r, 0) * 10000 // tot.n_tokens
                ELSE 0 END AS BIGINT) AS unseen_mass_bp
    FROM frame LEFT JOIN coc a ON a.r = frame.r
               LEFT JOIN coc b ON b.r = frame.r + 1
               CROSS JOIN tot
    """,
)
def q_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency-of-frequencies over the corpus vocabulary:
    N_r (word types seen exactly r times) for r = 1..10, the adjusted
    count r* = (r+1)·N_{r+1}/N_r in exact milli-units, and the unseen-
    mass estimate N_1/N on the r=1 row — the smoothing table every
    language model over a corpus slice starts from, and a corpus-health
    readout (OCR garbage inflates N_1; boilerplate floods deflate it).
    Word-keyed counts with map-side partials, then a ≤10-row frame
    join on the count-of-counts grain."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word"))
    wc = (w.filter(F.col("word") != "")
          .groupBy("word")
          .agg(F.count(F.lit(1)).alias("c")))
    coc = wc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r"))
    tot = wc.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    frame = spark.range(1, 11).select(F.col("id").alias("r"))
    a = coc.select(F.col("r").alias("ra"), F.col("n_r").alias("na"))
    b = coc.select(F.col("r").alias("rb"), F.col("n_r").alias("nb"))
    return (frame
            .join(F.broadcast(a), frame["r"] == F.col("ra"), "left")
            .join(F.broadcast(b), frame["r"] + 1 == F.col("rb"), "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "r",
                F.coalesce("na", F.lit(0)).cast("bigint").alias("n_r"),
                F.coalesce("nb", F.lit(0)).cast("bigint")
                .alias("n_r_plus_1"),
                F.expr("CASE WHEN COALESCE(na, 0) = 0 THEN 0"
                       " ELSE (r + 1) * COALESCE(nb, 0) * 1000"
                       " div na END").cast("bigint")
                .alias("gt_r_star_milli"),
                F.expr("CASE WHEN r = 1 THEN"
                       " COALESCE(na, 0) * 10000 div n_tokens"
                       " ELSE 0 END").cast("bigint")
                .alias("unseen_mass_bp")))


_PRICE_TEXT = (
    ["Now only $1,299.99 while stocks last ", 5],
    ["Preis: 12,50 € inkl. MwSt ", 3],
    ["Price: Rs. 1,23,456 onwards ", 4],
    ["The subscription costs USD 49 per year ", 2],
    ["Download for free today ", 3],
    ["The committee met at 3,000 feet elevation ", 4],
)
_PRICE_TEXT_SQL = _docs_sql(_PRICE_TEXT, "text")

_PRICE_CENTS_SQL = """
           CASE WHEN raw IS NULL THEN NULL
                WHEN is_comma = 1 THEN
                  CAST(regexp_extract(replace(raw, '.', ''),
                       '^([0-9]+),', 1) AS BIGINT) * 100
                  + CAST(rpad(regexp_extract(replace(raw, '.', ''),
                         ',([0-9]{1,2})$', 1), 2, '0') AS BIGINT)
                ELSE
                  CAST(regexp_extract(replace(raw, ',', ''),
                       '^([0-9]+)', 1) AS BIGINT) * 100
                  + CASE WHEN regexp_extract(replace(raw, ',', ''),
                              '\\.([0-9]{1,2})$', 1) = '' THEN 0
                         ELSE CAST(rpad(regexp_extract(
                              replace(raw, ',', ''),
                              '\\.([0-9]{1,2})$', 1), 2, '0') AS BIGINT)
                    END
           END
"""

_PRICE_SQL = (
    "WITH u AS (" + _PRICE_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc, text,
             regexp_extract(text,
               '\\$\\s*([0-9][0-9,]*(\\.[0-9]{1,2})?)', 1) AS d_amt,
             regexp_extract(text,
               '([0-9][0-9.]*,[0-9]{1,2})\\s*€', 1) AS e_amt,
             regexp_extract(text,
               '(?i)\\brs\\.?\\s*([0-9][0-9,]*(\\.[0-9]{1,2})?)', 1)
               AS r_amt,
             regexp_extract(text,
               '(?i)\\b(usd|eur|inr)\\s+([0-9][0-9,]*(\\.[0-9]{1,2})?)',
               1) AS c_cur,
             regexp_extract(text,
               '(?i)\\b(usd|eur|inr)\\s+([0-9][0-9,]*(\\.[0-9]{1,2})?)',
               2) AS c_amt
      FROM u),
    pick AS (
      SELECT doc,
             CASE WHEN d_amt <> '' THEN 'USD'
                  WHEN e_amt <> '' THEN 'EUR'
                  WHEN r_amt <> '' THEN 'INR'
                  WHEN c_cur <> '' THEN upper(c_cur) END AS currency,
             CASE WHEN d_amt <> '' THEN d_amt
                  WHEN e_amt <> '' THEN e_amt
                  WHEN r_amt <> '' THEN r_amt
                  WHEN c_cur <> '' THEN c_amt END AS raw,
             CASE WHEN d_amt = '' AND e_amt <> '' THEN 1 ELSE 0 END
               AS is_comma
      FROM m)
    SELECT doc, currency, raw AS price_raw,
           CAST(""" + _PRICE_CENTS_SQL + """ AS BIGINT) AS amount_cents
    FROM pick
    """
)


@query("price_normalize", _PRICE_SQL)
def q_price_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price extraction + normalization to exact integer cents with an
    ISO currency code — the commerce sibling of unit_normalize: '$1,299.99'
    (US thousands/dot-decimal), '12,50 €' (EU dot-thousands/comma-
    decimal), 'Rs. 1,23,456' (Indian 2-2-3 grouping — groupings are
    stripped, not interpreted), and 'USD 49' code-prefixed forms all
    land in one (currency, amount_cents) pair; pages with no
    currency-adjacent number (bare '3,000 feet', 'free') stay NULL —
    observable, never a silent 0. First-match-wins priority $ > € >
    Rs > code keeps the parse deterministic. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _PRICE_TEXT, "text")
    d_amt = F.regexp_extract(
        "text", r"\$\s*([0-9][0-9,]*(\.[0-9]{1,2})?)", 1)
    e_amt = F.regexp_extract(
        "text", "([0-9][0-9.]*,[0-9]{1,2})\\s*€", 1)
    r_amt = F.regexp_extract(
        "text", r"(?i)\brs\.?\s*([0-9][0-9,]*(\.[0-9]{1,2})?)", 1)
    c_cur = F.regexp_extract(
        "text", r"(?i)\b(usd|eur|inr)\s+([0-9][0-9,]*(\.[0-9]{1,2})?)",
        1)
    c_amt = F.regexp_extract(
        "text", r"(?i)\b(usd|eur|inr)\s+([0-9][0-9,]*(\.[0-9]{1,2})?)",
        2)
    pick = docs.select(
        "doc",
        F.when(d_amt != "", F.lit("USD"))
        .when(e_amt != "", F.lit("EUR"))
        .when(r_amt != "", F.lit("INR"))
        .when(c_cur != "", F.upper(c_cur)).alias("currency"),
        F.when(d_amt != "", d_amt)
        .when(e_amt != "", e_amt)
        .when(r_amt != "", r_amt)
        .when(c_cur != "", c_amt).alias("raw"),
        F.when((d_amt == "") & (e_amt != ""), 1).otherwise(0)
        .alias("is_comma"))
    return pick.select(
        "doc", "currency", F.col("raw").alias("price_raw"),
        F.expr(_PRICE_CENTS_SQL.replace("\\.", "\\\\.")).cast("bigint")
        .alias("amount_cents"))


_RAKE_STOP_RE = (
    r"\b(the|of|and|a|in|to|is|for|with|on|as|by|at|an|are|was|were|be|"
    r"this|that|it|or|from|but)\b"
)


@query(
    "rake_keyphrases",
    f"""
    WITH t AS (
      SELECT regexp_replace(regexp_replace(lower(text),
               '[^a-z\\s]', '|', 'g'),
               '{_RAKE_STOP_RE}', '|', 'g') AS t3
      FROM documents),
    fr AS (SELECT unnest(string_split(t3, '|')) AS frag FROM t),
    ph AS (SELECT trim(regexp_replace(frag, '\\s+', ' ', 'g'))
             AS phrase FROM fr),
    occ AS (
      SELECT phrase, len(string_split(phrase, ' ')) AS nw
      FROM ph
      WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 4),
    pf AS (SELECT phrase, COUNT(*) AS n_occ FROM occ GROUP BY phrase),
    pw AS (SELECT unnest(string_split(phrase, ' ')) AS word, nw
           FROM occ),
    ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
                  CAST(SUM(nw) AS BIGINT) AS deg
           FROM pw GROUP BY word),
    ptw AS (SELECT phrase, n_occ,
                   unnest(string_split(phrase, ' ')) AS word
            FROM pf),
    sc AS (
      SELECT phrase, n_occ,
             CAST(SUM(deg * 1000 // freq) AS BIGINT) AS score_milli
      FROM ptw JOIN ws USING (word)
      GROUP BY phrase, n_occ)
    SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ, score_milli
    FROM sc
    ORDER BY score_milli DESC, n_occ DESC, phrase
    LIMIT 20
    """,
)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are the maximal runs between stopwords and
    punctuation (both replaced by a boundary marker in one regex pass,
    so segmentation is a zero-join projection), each phrase scored by
    SUM over its words of degree/frequency — degree rewards words that
    appear inside long phrases, frequency discounts ubiquitous ones —
    carried in exact milli-units with one truncating division per word.
    Scale shape: phrase and word stats are plain keyed aggs with
    map-side partials (vocab-bounded), the phrase-type word explode is
    bounded by 4 tokens, and the top-20 is a distributed TakeOrdered
    with a full deterministic tie-break."""
    docs = _cpu(spark, sf_dir, "documents")
    t3 = F.regexp_replace(
        F.regexp_replace(F.lower("text"), r"[^a-z\s]", "|"),
        _RAKE_STOP_RE, "|")
    frag = docs.select(F.explode(F.split(t3, r"[|]")).alias("frag"))
    ph = frag.select(
        F.trim(F.regexp_replace("frag", r"\s+", " ")).alias("phrase"))
    occ = (ph.filter(F.col("phrase") != "")
           .select("phrase",
                   F.size(F.split("phrase", " ")).alias("nw"))
           .filter(F.col("nw") <= 4))
    pf = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occ"))
    pw = occ.select(F.explode(F.split("phrase", " ")).alias("word"),
                    "nw")
    ws = pw.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("nw").cast("bigint").alias("deg"))
    ptw = pf.select("phrase", "n_occ",
                    F.explode(F.split("phrase", " ")).alias("word"))
    sc = (ptw.join(ws, "word")
          .groupBy("phrase", "n_occ")
          .agg(F.sum(F.expr("deg * 1000 div freq")).cast("bigint")
               .alias("score_milli")))
    return (sc.orderBy(F.col("score_milli").desc(),
                       F.col("n_occ").desc(), "phrase")
            .limit(20)
            .select("phrase", F.col("n_occ").cast("bigint")
                    .alias("n_occ"), "score_milli"))


@query(
    "skipgram_pairs",
    """
    WITH wsrc AS (
      SELECT doc_id AS doc,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS ws
      FROM documents),
    p AS (
      SELECT doc, i, ws[i] AS w
      FROM wsrc, UNNEST(range(1, len(ws) + 1)) AS t(i)),
    pr AS (
      SELECT a.w AS center, b.w AS context
      FROM p a JOIN p b
        ON a.doc = b.doc AND b.i BETWEEN a.i - 2 AND a.i + 2
           AND b.i <> a.i)
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pr GROUP BY center, context HAVING COUNT(*) >= 3
    """,
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair generation (word2vec data prep, window
    ±2): every (center, context) co-occurrence within two positions,
    counted corpus-wide with min support 3. The pair emission is
    IN-ROW — an index-aware transform over each document's word array
    emits its ≤4 context slots per token, so fan-out is a constant
    factor of corpus tokens and there is never a positional self-join;
    the oracle twin IS the positional self-join, making output equality
    the completeness proof. One gram-keyed agg with map-side partials —
    the same scale shape as pmi_collocations, which consumes these
    counts' bigram subset."""
    docs = _cpu(spark, sf_dir, "documents")
    ws = docs.select(
        F.expr("filter(split(lower(text), ' '), w -> w != '')")
        .alias("ws"))
    pairs = ws.select(F.explode(F.expr(
        "flatten(transform(ws, (c, i) ->"
        " filter(transform(sequence(greatest(i - 2, 0),"
        "                           least(i + 2, size(ws) - 1)),"
        "   j -> CASE WHEN j <> i THEN"
        "     struct(c AS center, element_at(ws, j + 1) AS context)"
        "   END), x -> x IS NOT NULL)))")).alias("pr"))
    return (pairs.select("pr.center", "pr.context")
            .groupBy("center", "context")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .filter(F.col("n_pairs") >= 3))


@query(
    "token_chunking",
    """
    WITH wsrc AS (
      SELECT doc_id AS doc,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS ws
      FROM documents),
    nz AS (SELECT doc, ws, len(ws) AS n FROM wsrc WHERE len(ws) >= 1),
    ch AS (
      SELECT doc, CAST(ci AS BIGINT) AS chunk_idx,
             CAST(LEAST(8, n - ci * 6) AS BIGINT) AS n_tokens,
             md5(array_to_string(
               list_slice(ws, ci * 6 + 1, ci * 6 + 8), ' '))
               AS chunk_md5
      FROM nz, UNNEST(range(0, (n - 1) // 6 + 1)) AS t(ci))
    SELECT doc, chunk_idx, n_tokens, chunk_md5 FROM ch
    """,
)
def q_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking (size 8, stride 6 — the
    shape every context-window training pipeline cuts long documents
    into, scaled down for the fixture corpus): chunk starts at every
    stride multiple below the token count, so consecutive chunks share
    a 2-token overlap and the tail chunk may be short — deterministic,
    never dropped. Entirely IN-ROW (sequence + slice per document, no
    shuffle at all until the sink); emitted as (doc, chunk_idx,
    n_tokens, md5) so the verification surface is hash-sized, not
    text-sized. The content-defined sibling (`cdc_chunking`-style
    boundaries) is covered separately; this is the fixed-stride
    workhorse."""
    docs = _cpu(spark, sf_dir, "documents")
    nz = (docs.select(
        F.col("doc_id").alias("doc"),
        F.expr("filter(split(lower(text), ' '), w -> w != '')")
        .alias("ws"))
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") >= 1))
    ch = nz.select(
        "doc",
        F.explode(F.expr(
            "transform(sequence(0, (n - 1) div 6), ci -> struct("
            " CAST(ci AS BIGINT) AS chunk_idx,"
            " CAST(LEAST(8, n - ci * 6) AS BIGINT) AS n_tokens,"
            " md5(array_join(slice(ws, ci * 6 + 1, 8), ' '))"
            "   AS chunk_md5))")).alias("c"))
    return ch.select("doc", "c.chunk_idx", "c.n_tokens", "c.chunk_md5")


@query(
    "corpus_growth_curves",
    """
    WITH frame AS (SELECT unnest(generate_series(4, 10)) AS k),
    dt AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '),
                             w -> w <> '')) AS n_tok,
             md5(text) AS h
      FROM documents),
    wf AS (
      SELECT word, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word),
    hf AS (SELECT h, MIN(doc_id) AS first_doc FROM dt GROUP BY h),
    dstats AS (
      SELECT frame.k,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dt.n_tok) AS BIGINT) AS n_tokens
      FROM frame JOIN dt ON dt.doc_id < (1 << frame.k)
      GROUP BY frame.k),
    vstats AS (
      SELECT frame.k, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM frame JOIN wf ON wf.first_doc < (1 << frame.k)
      GROUP BY frame.k),
    cstats AS (
      SELECT frame.k, CAST(COUNT(*) AS BIGINT) AS distinct_content
      FROM frame JOIN hf ON hf.first_doc < (1 << frame.k)
      GROUP BY frame.k)
    SELECT d.k, d.n_docs, d.n_tokens,
           COALESCE(v.vocab, 0) AS vocab,
           COALESCE(c.distinct_content, 0) AS distinct_content,
           CAST((d.n_docs - COALESCE(c.distinct_content, 0)) * 10000
                // d.n_docs AS BIGINT) AS dup_bp
    FROM dstats d LEFT JOIN vstats v ON v.k = d.k
                  LEFT JOIN cstats c ON c.k = d.k
    """,
)
def q_corpus_growth_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus growth curves at geometric prefixes (first 2^k docs,
    k=4..10): token count, Heaps-law vocabulary size, distinct-content
    count, and the exact-dup rate — the scaling table that says whether
    vocabulary still grows sublinearly (healthy) and how dedup yield
    climbs with corpus size (the number that decides whether another
    crawl batch is worth fetching). Single-pass trick: each word/hash
    carries its FIRST doc id, so every prefix's distinct count is one
    conditional count over the vocab/hash grain — the corpus is scanned
    once, never once per prefix. The 7-row frame broadcast-joins on the
    inequality."""
    docs = _cpu(spark, sf_dir, "documents")
    frame = spark.range(4, 11).select(F.col("id").alias("k"))
    dt = docs.select(
        "doc_id",
        F.size(F.expr("filter(split(lower(text), ' '), w -> w != '')"))
        .alias("n_tok"),
        F.md5("text").alias("h"))
    wf = (docs.select("doc_id",
                      F.explode(F.split(F.lower("text"), " "))
                      .alias("word"))
          .filter(F.col("word") != "")
          .groupBy("word").agg(F.min("doc_id").alias("first_doc")))
    hf = dt.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    dstats = (F.broadcast(frame)
              .join(dt, dt["doc_id"] < F.expr("CAST(1 AS BIGINT) << k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                   F.sum("n_tok").cast("bigint").alias("n_tokens")))
    vstats = (F.broadcast(frame)
              .join(wf, wf["first_doc"]
                    < F.expr("CAST(1 AS BIGINT) << k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("bigint").alias("vocab")))
    cstats = (F.broadcast(frame)
              .join(hf, hf["first_doc"]
                    < F.expr("CAST(1 AS BIGINT) << k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("bigint")
                   .alias("distinct_content")))
    return (dstats.join(vstats, "k", "left")
            .join(cstats, "k", "left")
            .select("k", "n_docs", "n_tokens",
                    F.coalesce("vocab", F.lit(0)).cast("bigint")
                    .alias("vocab"),
                    F.coalesce("distinct_content", F.lit(0))
                    .cast("bigint").alias("distinct_content"),
                    F.expr("(n_docs - COALESCE(distinct_content, 0))"
                           " * 10000 div n_docs").cast("bigint")
                    .alias("dup_bp")))


_DEHYPH_TEXT = (
    ["the exam- ple shows a hyphen- ated line break ", 5],
    ["a state-of-the-art system with well-known parts ", 3],
    ["the final score was 3 - 2 in the match ", 4],
    ["plain prose with no broken words at all ", 6],
)
_DEHYPH_TEXT_SQL = _docs_sql(_DEHYPH_TEXT, "text")


@query(
    "dehyphenate",
    "WITH u AS (" + _DEHYPH_TEXT_SQL + ")"
    """
    SELECT doc,
           CAST(len(regexp_extract_all(text,
                '([a-z])-\\s+([a-z])')) AS BIGINT) AS n_repairs,
           md5(regexp_replace(text, '([a-z])-\\s+([a-z])', '\\1\\2',
               'g')) AS repaired_md5
    FROM u
    """,
)
def q_dehyphenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-hyphenation of line-break-split words — the standard OCR/PDF
    text-layer repair: 'exam- ple' rejoins to 'example' when a letter
    directly precedes the hyphen and whitespace follows it. Real
    hyphenated compounds ('state-of-the-art': no space after the
    hyphen) and spaced dashes ('3 - 2': no letter before) never match —
    the precision conditions that make this safe to run corpus-wide.
    Emits the repair count plus the md5 of the repaired text, so the
    fix is byte-verifiable. Zero-shuffle projection; the only dialect
    care is the capture-group reference ($1 in Spark, \\\\1 in
    DuckDB/RE2)."""
    docs = _docs(spark, sf_dir, _DEHYPH_TEXT, "text")
    return docs.select(
        "doc",
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(r"([a-z])-\s+([a-z])"), F.lit(0)))
        .cast("bigint").alias("n_repairs"),
        F.md5(F.regexp_replace(
            "text", r"([a-z])-\s+([a-z])", "$1$2")).alias("repaired_md5"))


@query(
    "naive_bayes_lang",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    t2 AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
    trn AS (SELECT * FROM t2 WHERE doc_id % 5 != 0),
    tst AS (SELECT doc_id, lang AS true_lang, w FROM t2
            WHERE doc_id % 5 = 0),
    wc AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM trn GROUP BY lang, w),
    tcls AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM wc
             GROUP BY lang),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM trn),
    nd AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
           FROM trn GROUP BY lang),
    ntot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM nd),
    params AS (
      SELECT tcls.lang,
             CAST(ROUND(ln(CAST(1 AS DOUBLE) / (tcls.t + vv.v))
                  * 1000000) AS BIGINT) AS def_micro,
             CAST(ROUND(ln(CAST(nd.n AS DOUBLE) / ntot.nt) * 1000000)
                  AS BIGINT) AS prior_micro
      FROM tcls JOIN nd ON nd.lang = tcls.lang
      CROSS JOIN vv CROSS JOIN ntot),
    wgt AS (
      SELECT wc.lang, wc.w,
             CAST(ROUND(ln(CAST(wc.c + 1 AS DOUBLE) / (tcls.t + vv.v))
                  * 1000000) AS BIGINT) AS wm
      FROM wc JOIN tcls ON tcls.lang = wc.lang CROSS JOIN vv),
    dt AS (SELECT doc_id, true_lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tst GROUP BY doc_id, true_lang, w),
    grid AS (
      SELECT dt.doc_id, dt.true_lang, p.lang, dt.cnt,
             COALESCE(wgt.wm, p.def_micro) AS wm, p.prior_micro
      FROM dt CROSS JOIN params p
      LEFT JOIN wgt ON wgt.lang = p.lang AND wgt.w = dt.w),
    sc AS (
      SELECT doc_id, true_lang, lang,
             CAST(MAX(prior_micro) + SUM(cnt * wm) AS BIGINT) AS s
      FROM grid GROUP BY doc_id, true_lang, lang),
    mx AS (SELECT doc_id, MAX(s) AS ms FROM sc GROUP BY doc_id),
    pred AS (
      SELECT sc.doc_id, sc.true_lang,
             MIN(CASE WHEN sc.s = mx.ms THEN sc.lang END) AS pred_lang
      FROM sc JOIN mx ON mx.doc_id = sc.doc_id
      GROUP BY sc.doc_id, sc.true_lang)
    SELECT true_lang,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS acc_bp
    FROM pred GROUP BY true_lang
    """,
)
def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained multinomial Naive Bayes language classifier with add-1
    smoothing, residue-split train/test (doc_id%5), evaluated per true
    language — the LEARNED companion to the heuristic lang_id: all
    probabilities live as exact BIGINT micro-nats (one ln per DISTINCT
    (class, word) parameter — the repo's cross-engine determinism
    convention), so per-doc score sums are integer and order-free, and
    the argmax (ties to the smallest language code) is bit-stable.
    Scale shape: training is one (class, word) agg with map-side
    partials; scoring fans each test token across the ≤n_langs
    broadcast parameter rows — linear in test tokens, the textbook
    distributed NB. Test docs with zero tokens are out of scope by
    construction (no token rows)."""
    docs = _cpu(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", "lang",
                       F.explode(F.split(F.lower("text"), " "))
                       .alias("w"))
           .filter(F.col("w") != ""))
    # trn feeds wc, vv, and nd — measured A/B: re-scanning the cheap
    # split+explode three times beats materializing the token frame
    # (3.9s vs 4.5s at sf0.1), so no persist here, unlike modularity's
    # iterative-chain reuse where persist is 6x
    trn = tok.filter(F.col("doc_id") % 5 != 0)
    tst = (tok.filter(F.col("doc_id") % 5 == 0)
           .withColumnRenamed("lang", "true_lang"))
    wc = trn.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    tcls = wc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("t"))
    vv = trn.agg(F.countDistinct("w").cast("bigint").alias("v"))
    nd = trn.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n"))
    ntot = nd.agg(F.sum("n").cast("bigint").alias("nt"))
    params = (tcls.join(nd, "lang")
              .crossJoin(F.broadcast(vv))
              .crossJoin(F.broadcast(ntot))
              .select(
                  "lang", "t", "v",
                  F.round(F.log(F.lit(1.0) / (F.col("t") + F.col("v")))
                          * 1000000).cast("bigint").alias("def_micro"),
                  F.round(F.log(F.col("n").cast("double") / F.col("nt"))
                          * 1000000).cast("bigint")
                  .alias("prior_micro")))
    wgt = (wc.join(tcls, "lang").crossJoin(F.broadcast(vv))
           .select("lang", "w",
                   F.round(F.log((F.col("c") + 1).cast("double")
                                 / (F.col("t") + F.col("v")))
                           * 1000000).cast("bigint").alias("wm")))
    dt = tst.groupBy("doc_id", "true_lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    p = params.select(F.col("lang").alias("plang"), "def_micro",
                      "prior_micro")
    g = (dt.crossJoin(F.broadcast(p))
         .join(wgt.select(F.col("lang").alias("plang"),
                          F.col("w").alias("w"), "wm"),
               ["plang", "w"], "left")
         .select("doc_id", "true_lang", F.col("plang").alias("lang"),
                 "cnt", F.coalesce("wm", F.col("def_micro")).alias("wm"),
                 "prior_micro"))
    sc = g.groupBy("doc_id", "true_lang", "lang").agg(
        (F.max("prior_micro") + F.sum(F.col("cnt") * F.col("wm")))
        .cast("bigint").alias("s"))
    mx = sc.groupBy("doc_id").agg(F.max("s").alias("ms"))
    pred = (sc.join(mx, "doc_id")
            .groupBy("doc_id", "true_lang")
            .agg(F.min(F.when(F.col("s") == F.col("ms"),
                              F.col("lang"))).alias("pred_lang")))
    return pred.groupBy("true_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.expr("CASE WHEN pred_lang = true_lang THEN 1 ELSE 0"
                     " END")).cast("bigint").alias("n_correct"),
        F.expr("SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)"
               " * 10000 div COUNT(*)").cast("bigint").alias("acc_bp"))


@query(
    "skipgram_negatives",
    """
    WITH wsrc AS (
      SELECT list_filter(string_split(lower(text), ' '), w -> w <> '')
        AS ws
      FROM documents),
    flat AS (SELECT unnest(ws) AS word FROM wsrc),
    vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM flat
      GROUP BY word),
    idx AS (
      SELECT word, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rk
      FROM vocab),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    draws AS (
      SELECT i.word AS center, t.j,
             1 + ('0x' || substr(md5(i.word || ':neg:' ||
                  CAST(t.j AS VARCHAR)), 1, 8))::BIGINT % nv.v AS rk
      FROM idx i CROSS JOIN nv
      CROSS JOIN UNNEST(generate_series(1, 2)) AS t(j)
      WHERE i.rk <= 50),
    neg AS (
      SELECT d.center, d.j, x.word AS negative, x.freq AS neg_freq
      FROM draws d JOIN idx x ON x.rk = d.rk)
    SELECT center, CAST(j AS BIGINT) AS draw_idx, negative,
           CAST(neg_freq AS BIGINT) AS neg_freq,
           CAST(CASE WHEN negative = center THEN 1 ELSE 0 END AS INT)
             AS self_collision
    FROM neg
    """,
)
def q_skipgram_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for the skip-gram pairs: for
    each of the top-50 vocabulary words, two negatives drawn by
    md5-hash over the rank-indexed vocabulary (reproducible across
    engines, retries, and partitionings — no RNG, the repo's sampling
    discipline), with the rare self-collision SURFACED as a flag
    rather than silently filtered, so the trainer decides. The vocab
    index is one ordered window on the vocab grain; draws join back on
    the rank key. Completes the word2vec data-prep path begun by
    skipgram_pairs."""
    docs = _cpu(spark, sf_dir, "documents")
    flat = docs.select(
        F.explode(F.expr("filter(split(lower(text), ' '),"
                         " w -> w != '')")).alias("word"))
    vocab = flat.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"))
    idx = vocab.select(
        "word", "freq",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), "word")).alias("rk"))
    nv = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    j = spark.range(1, 3).select(F.col("id").alias("j"))
    draws = (idx.filter(F.col("rk") <= 50)
             .select(F.col("word").alias("center"))
             .crossJoin(F.broadcast(j))
             .crossJoin(F.broadcast(nv))
             .select("center", "j",
                     (1 + F.conv(F.substring(F.md5(F.concat(
                         F.col("center"), F.lit(":neg:"),
                         F.col("j").cast("string"))), 1, 8), 16, 10)
                      .cast("bigint") % F.col("v")).alias("rk")))
    x = idx.select(F.col("rk"), F.col("word").alias("negative"),
                   F.col("freq").alias("neg_freq"))
    return (draws.join(x, "rk")
            .select("center", F.col("j").cast("bigint")
                    .alias("draw_idx"), "negative", "neg_freq",
                    F.expr("CAST(CASE WHEN negative = center THEN 1"
                           " ELSE 0 END AS INT)")
                    .alias("self_collision")))
