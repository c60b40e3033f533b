"""Statistics and evaluation: distribution fits and tests, drift,
quantiles, experiment analysis, classifier metrics, small learned models
(logistic regression, stumps, power iteration) and approximate-counting
sketches (HyperLogLog, KMV, count-min, Bloom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.casespec import case_col, case_sql
from ocr_spark.functions import similarity
from ocr_spark.queries.extraction import _STOP_SQL
from ocr_spark.queries.registry import _cpu, _t, query
from ocr_spark.queries.similarity import _lsh_bucket_oracle_sql
from ocr_spark.queries.text import (
    _WORDS_CTE,
    _lang_id_oracle,
    _lower_words,
    q_lang_id,
)


_HLL_ALPHA_MM = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256)


@query(
    "hll_distinct_events",
    f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events),
    p AS (SELECT h // 16777216 AS j, h % 16777216 AS rest FROM h),
    r AS (SELECT j, CASE WHEN rest = 0 THEN 25
                         ELSE 25 - length(bin(rest)) END AS rho
          FROM p),
    regs AS (SELECT j, MAX(rho) AS mj FROM r GROUP BY j),
    frame AS (SELECT unnest(generate_series(0, 255)) AS j),
    filled AS (SELECT COALESCE(regs.mj, 0) AS mj
             FROM frame LEFT JOIN regs USING (j)),
    s AS (SELECT CAST(SUM(CAST(1 AS BIGINT) << (32 - mj)) AS BIGINT) AS sum_scaled
          FROM filled),
    e AS (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_distinct
          FROM events)
    SELECT CAST(256 AS BIGINT) AS m, sum_scaled,
           ROUND(CAST({_HLL_ALPHA_MM} AS DOUBLE)
                 / (CAST(sum_scaled AS DOUBLE) / CAST(4294967296 AS DOUBLE)),
                 2) AS est_distinct,
           exact_distinct
    FROM s CROSS JOIN e
    """,
)
def q_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct sketch over event ids (256 md5-derived
    registers, integer-exact harmonic denominator), reported next to the
    exact distinct — the mergeable cardinality sketch at its error budget."""
    from ocr_spark.functions.curation import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "events"), "event_id", b=8)


@query(
    "bloom_semijoin",
    f"""
    WITH hs AS (SELECT unnest(generate_series(1, 3)) AS i),
    dimk AS (SELECT DISTINCT c_custkey AS key FROM customer
             WHERE c_mktsegment = 'BUILDING'),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(
        CAST(key AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
        % 1024 AS p
      FROM dimk CROSS JOIN hs),
    fk AS (SELECT DISTINCT o_custkey AS key FROM orders),
    probe AS (
      SELECT key, ('0x' || substr(md5(
        CAST(key AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
        % 1024 AS p
      FROM fk CROSS JOIN hs),
    passk AS (
      SELECT probe.key,
             (SUM(CASE WHEN bits.p IS NOT NULL THEN 1 ELSE 0 END) = 3)
               AS bloom_pass
      FROM probe LEFT JOIN bits ON probe.p = bits.p GROUP BY probe.key),
    flags AS (
      SELECT passk.key, passk.bloom_pass, (dimk.key IS NOT NULL) AS in_dim
      FROM passk LEFT JOIN dimk ON passk.key = dimk.key),
    rows_ AS (
      SELECT f.bloom_pass, f.in_dim
      FROM orders o JOIN flags f ON o.o_custkey = f.key),
    agg AS (
      SELECT COUNT(*) AS n_fact,
             SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS n_pass_bloom,
             SUM(CASE WHEN in_dim THEN 1 ELSE 0 END) AS n_true,
             SUM(CASE WHEN bloom_pass AND NOT in_dim THEN 1 ELSE 0 END)
               AS n_false_pos
      FROM rows_),
    nd AS (SELECT COUNT(*) AS n_dim_keys FROM dimk),
    nb AS (SELECT COUNT(*) AS n_set_bits FROM bits)
    SELECT CAST(1024 AS BIGINT) AS m, CAST(3 AS BIGINT) AS k,
           CAST(n_dim_keys AS BIGINT) AS n_dim_keys,
           CAST(n_set_bits AS BIGINT) AS n_set_bits,
           CAST(n_fact AS BIGINT) AS n_fact,
           CAST(n_pass_bloom AS BIGINT) AS n_pass_bloom,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           CASE WHEN n_fact > n_true
                THEN ROUND(CAST(n_false_pos AS DOUBLE) / (n_fact - n_true), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS fp_rate
    FROM agg CROSS JOIN nd CROSS JOIN nb
    """,
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning report: a 1024-bit / 3-hash filter
    over the BUILDING-segment customer keys probes every order row, next
    to the exact semi-join — the runtime-filter pattern with its measured
    false-positive rate."""
    from ocr_spark.functions.curation import bloom_semijoin

    return bloom_semijoin(
        _t(spark, sf_dir, "orders"), "o_custkey",
        _t(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"),
        "c_custkey", m=1024, k=3,
    )


@query(
    "cms_heavy_hitters",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT unnest(words) AS word FROM base),
    hs AS (SELECT unnest(generate_series(1, 4)) AS i),
    truec AS (SELECT word, COUNT(*) AS true_cnt FROM flat GROUP BY word),
    occ AS (
      SELECT i, ('0x' || substr(md5(
        word || ':cms' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1024 AS cell
      FROM flat CROSS JOIN hs),
    sketch AS (SELECT i, cell, COUNT(*) AS c FROM occ GROUP BY i, cell),
    top AS (
      SELECT word, true_cnt, rk FROM (
        SELECT word, true_cnt,
               ROW_NUMBER() OVER (ORDER BY true_cnt DESC, word) AS rk
        FROM truec) WHERE rk <= 20),
    probes AS (
      SELECT word, true_cnt, rk, i, ('0x' || substr(md5(
        word || ':cms' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1024 AS cell
      FROM top CROSS JOIN hs),
    est AS (
      SELECT word, true_cnt, rk, MIN(c) AS est_cnt
      FROM probes JOIN sketch USING (i, cell)
      GROUP BY word, true_cnt, rk)
    SELECT word, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overcount,
           CAST(rk AS BIGINT) AS rk
    FROM est
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4 x 1024 md5-derived counters) over the corpus
    word stream, point-estimates for the true top-20 words beside exact
    counts — the mergeable frequency sketch next to the HLL cardinality
    sketch."""
    from ocr_spark.functions.curation import cms_heavy_hitters

    return cms_heavy_hitters(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        d=4, w=1024, topn=20,
    )


def _logreg_oracle_sql(n_iters: int = 5, lr: float = 1.0) -> str:
    """Unrolled-iteration DuckDB twin of ml.logreg_quality over the
    documents quality features (same integer micro quantization, same
    fixed iteration count — the pagerank-oracle pattern for training)."""
    def p_expr(w: str) -> str:
        return (f"(1.0 / (1.0 + exp(-(({w}.w0 * 1000000 + {w}.w1 * f1 + "
                f"{w}.w2 * f2 + {w}.w3 * f3) / 1000000000000.0))))")

    its = ""
    prev = "wi0"
    for i in range(1, n_iters + 1):
        p = p_expr("w")
        its += f""",
    g{i} AS (
      SELECT SUM(CAST(round(({p} - y) * 1000000) AS BIGINT)) AS g0,
             SUM(CAST(round(({p} - y) * f1) AS BIGINT)) AS g1,
             SUM(CAST(round(({p} - y) * f2) AS BIGINT)) AS g2,
             SUM(CAST(round(({p} - y) * f3) AS BIGINT)) AS g3
      FROM feats CROSS JOIN {prev} w),
    wi{i} AS (
      SELECT w.w0 - CAST(round({lr!r} * g.g0 / nn.n) AS BIGINT) AS w0,
             w.w1 - CAST(round({lr!r} * g.g1 / nn.n) AS BIGINT) AS w1,
             w.w2 - CAST(round({lr!r} * g.g2 / nn.n) AS BIGINT) AS w2,
             w.w3 - CAST(round({lr!r} * g.g3 / nn.n) AS BIGINT) AS w3
      FROM {prev} w CROSS JOIN g{i} g CROSS JOIN nn)"""
        prev = f"wi{i}"
    pfin = p_expr("w")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             text || repeat(CASE WHEN doc_id % 3 = 0 THEN ' the and for'
                                 ELSE ' kappa lambda sigma' END,
                            CAST(1 + doc_id % 4 AS INT)) AS text,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM documents),
    base AS (
      SELECT doc_id AS doc, y,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS words
      FROM aug),
    rawf AS (
      SELECT doc,
             CAST(LEAST(len(words), 200) * 5000 AS BIGINT) AS f1,
             CAST(CASE WHEN len(words) > 0 THEN round(
               CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
               * 1000000 / (len(words) * 10.0)) ELSE 0 END AS BIGINT) AS f2,
             CAST(CASE WHEN len(words) > 0 THEN round(
               CAST(len(list_filter(words, w -> w IN ({_STOP_SQL}))) AS DOUBLE)
               * 1000000 / len(words)) ELSE 0 END AS BIGINT) AS f3,
             y
      FROM base),
    st AS (
      SELECT CAST(round(CAST(SUM(f1) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_f1,
             CAST(round(sqrt(GREATEST(
               CAST(SUM(f1 * f1) AS DOUBLE) / COUNT(*)
               - CAST(round(CAST(SUM(f1) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 * CAST(round(CAST(SUM(f1) AS DOUBLE) / COUNT(*)) AS BIGINT),
               0.0))) AS BIGINT) AS std_f1,
             CAST(round(CAST(SUM(f2) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_f2,
             CAST(round(sqrt(GREATEST(
               CAST(SUM(f2 * f2) AS DOUBLE) / COUNT(*)
               - CAST(round(CAST(SUM(f2) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 * CAST(round(CAST(SUM(f2) AS DOUBLE) / COUNT(*)) AS BIGINT),
               0.0))) AS BIGINT) AS std_f2,
             CAST(round(CAST(SUM(f3) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_f3,
             CAST(round(sqrt(GREATEST(
               CAST(SUM(f3 * f3) AS DOUBLE) / COUNT(*)
               - CAST(round(CAST(SUM(f3) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 * CAST(round(CAST(SUM(f3) AS DOUBLE) / COUNT(*)) AS BIGINT),
               0.0))) AS BIGINT) AS std_f3
      FROM rawf),
    feats AS (
      SELECT r.doc, r.y,
             CASE WHEN st.std_f1 > 0 THEN CAST(round(
               CAST(r.f1 - st.mean_f1 AS DOUBLE) * 1000000 / st.std_f1)
               AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f1,
             CASE WHEN st.std_f2 > 0 THEN CAST(round(
               CAST(r.f2 - st.mean_f2 AS DOUBLE) * 1000000 / st.std_f2)
               AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f2,
             CASE WHEN st.std_f3 > 0 THEN CAST(round(
               CAST(r.f3 - st.mean_f3 AS DOUBLE) * 1000000 / st.std_f3)
               AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f3
      FROM rawf r CROSS JOIN st),
    nn AS (SELECT COUNT(*) AS n FROM feats),
    wi0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3){its}
    SELECT doc, ROUND({pfin}, 6) AS score, ({pfin} >= 0.5) AS pred,
           CAST(y AS BIGINT) AS label
    FROM feats CROSS JOIN {prev} w
    """


@query("logreg_quality", _logreg_oracle_sql())
def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality-classifier training: 3 fixed iterations of
    full-batch gradient descent on word-count / mean-word-length /
    stop-word-fraction features (integer micro-quantized gradients, so
    the corpus SUM is order-free and the DuckDB twin unrolls the same
    iterations bit-exactly), then score every document — the fastText /
    CCNet-style quality-filter pattern, with deterministic z-score feature
    standardization. The label is a learnable fixture
    (docs deterministically augmented with stop-word-rich vs rare-word
    filler), so training demonstrably separates the classes — the
    accuracy floor is pinned in tests."""
    from ocr_spark import config as C
    from ocr_spark.functions.curation import _doc_words
    from ocr_spark.functions.ml import logreg_quality, standardize_micro

    d = _cpu(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(
                F.when(F.col("doc_id") % 3 == 0, F.lit(" the and for"))
                .otherwise(F.lit(" kappa lambda sigma")),
                (1 + F.col("doc_id") % 4).cast("int"),
            ),
        ).alias("text"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"),
    )
    base = _doc_words(aug, "doc_id", "text", keep=("y",))
    n = F.size("words")
    sum_len = F.aggregate(
        "words", F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w))
    stops = F.size(F.filter("words", lambda w: w.isin(C.STOPWORDS)))
    feats = base.select(
        "doc",
        (F.least(n.cast("bigint"), F.lit(200)) * 5000).cast("bigint").alias("f1"),
        F.when(n > 0, F.round(
            sum_len.cast("double") * 1000000 / (n * 10.0))).otherwise(0)
        .cast("bigint").alias("f2"),
        F.when(n > 0, F.round(
            stops.cast("double") * 1000000 / n)).otherwise(0)
        .cast("bigint").alias("f3"),
        "y",
    )
    feats = standardize_micro(feats, ("f1", "f2", "f3"))
    return logreg_quality(feats, "doc", ("f1", "f2", "f3"), "y",
                          n_iters=5, lr=1.0)


@query(
    "logreg_calibration",
    f"""
    WITH lr_out AS ({{LOGREG}}),
    b AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             CAST(ROUND(score * 1000000) AS BIGINT) AS sm,
             label,
             CASE WHEN pred THEN 1 ELSE 0 END AS pr
      FROM lr_out)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sm) AS BIGINT) AS sum_score_micro,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(SUM(pr) AS BIGINT) AS n_pred_pos
    FROM b GROUP BY bin
    """.replace("{LOGREG}", _logreg_oracle_sql()),
)
def q_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins over the trained quality classifier:
    decile-binned predicted probability vs observed positive rate, as
    exact integers (doc count, micro-score sum, positive count) so the
    cross-engine hash is stable — the calibration check an ML-ops layer
    runs before trusting a quality filter's threshold. One hash agg over
    the classifier's scoring pass; the training sub-plan is shared."""
    lr_out = q_logreg_quality(spark, sf_dir)
    sm = F.round(F.col("score") * 1000000).cast("bigint")
    return (
        lr_out.select(
            F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9))
            .alias("bin"),
            sm.alias("sm"),
            "label",
            F.col("pred").cast("int").alias("pr"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("sm").alias("sum_score_micro"),
            F.sum("label").alias("n_pos"),
            F.sum("pr").cast("bigint").alias("n_pred_pos"),
        )
    )


@query(
    "ks_drift",
    """
    WITH s AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN n_chars
                  ELSE n_chars + (doc_id % 7) * 25 END AS v,
             doc_id % 2 AS side
      FROM documents),
    pv AS (SELECT v,
                  SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS a,
                  SUM(CASE WHEN side = 0 THEN 0 ELSE 1 END) AS b
           FROM s GROUP BY v),
    t AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
                 CAST(SUM(b) AS BIGINT) AS n_b FROM pv),
    c AS (SELECT v,
                 SUM(a) OVER (ORDER BY v) AS ca,
                 SUM(b) OVER (ORDER BY v) AS cb
          FROM pv)
    SELECT t.n_a, t.n_b, c.v AS at_value,
           CAST(ABS(c.ca * t.n_b - c.cb * t.n_a) AS BIGINT) AS d_num,
           CAST(ABS(c.ca * t.n_b - c.cb * t.n_a) * 10000
                // (t.n_a * t.n_b) AS BIGINT) AS ks_bp
    FROM c, t
    ORDER BY ABS(c.ca * t.n_b - c.cb * t.n_a) DESC, c.v
    LIMIT 1
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate between two synthetic crawl snapshots of
    the documents corpus: the baseline side keeps n_chars, the recrawl
    side is shifted by a deterministic doc-dependent offset, and the
    two-sample KS statistic (exact integer numerator, supremum location,
    basis points) quantifies the drift an extractor-version bump must
    stay under. See functions/curation.ks_drift for the value-histogram
    scale shape."""
    from ocr_spark.functions.curation import ks_drift

    d = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, F.col("n_chars"))
        .otherwise(F.col("n_chars") + (F.col("doc_id") % 7) * 25)
        .alias("v"),
        (F.col("doc_id") % 2).alias("side"),
    )
    return ks_drift(d, "v", "side")


@query(
    "zipf_fit",
    r"""
    WITH t AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents),
    v AS (SELECT term, COUNT(*) AS freq FROM t
          WHERE term != '' GROUP BY term),
    topv AS (SELECT term, freq FROM v ORDER BY freq DESC, term LIMIT 256),
    r AS (SELECT freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
          FROM topv),
    xy AS (SELECT
             CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS y
           FROM r),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM xy),
    f AS (SELECT n AS n_terms,
                 CAST(n * sxy - sx * sy AS BIGINT) AS num,
                 CAST(n * sxx - sx * sx AS BIGINT) AS den
          FROM s)
    SELECT n_terms, num, den,
           CAST(CASE WHEN den // 1000 > 0
                THEN ((-num) // den) * 1000000
                   + (((-num) % den) * 1000) // (den // 1000)
                ELSE 0 END AS BIGINT) AS abs_slope_ppm
    FROM f
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency regression over the documents vocabulary —
    exact integer milli-nat least squares on the top-256 terms; the
    corpus-health statistic beside vocab_topk (who the head terms are)
    and unigram_kl (who deviates from the corpus). See
    functions/curation.zipf_fit."""
    from ocr_spark.functions.curation import zipf_fit

    return zipf_fit(_cpu(spark, sf_dir, "documents"), "text", 256)


@query(
    "digit_hist_quantiles",
    """
    WITH base AS (
      SELECT n_chars FROM documents
      WHERE n_chars IS NOT NULL AND n_chars >= 0),
    hist AS (
      SELECT length(CAST(n_chars AS VARCHAR)) AS bucket, COUNT(*) AS n
      FROM base GROUP BY 1),
    cum AS (
      SELECT bucket, n,
             SUM(n) OVER (ORDER BY bucket) AS cum,
             SUM(n) OVER () AS total
      FROM hist),
    qs AS (SELECT unnest([50, 90, 99]) AS quantile_pct),
    sel AS (
      SELECT q.quantile_pct, MIN(c.bucket) AS bucket_digits
      FROM qs q JOIN cum c ON c.cum * 100 >= q.quantile_pct * c.total
      GROUP BY q.quantile_pct)
    SELECT CAST(s.quantile_pct AS BIGINT) AS quantile_pct,
           CAST(s.bucket_digits AS BIGINT) AS bucket_digits,
           CASE WHEN s.bucket_digits <= 18
                THEN CAST(repeat('9', s.bucket_digits) AS BIGINT)
                ELSE NULL END AS bucket_ub,
           CAST(c.cum AS BIGINT) AS n_le
    FROM sel s JOIN cum c ON c.bucket = s.bucket_digits
    """,
)
def q_digit_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable decimal-digit histogram quantiles over documents.n_chars:
    the sketch-family quantile reader (beside HLL/CMS/Bloom) — one <=19-key
    hash agg replaces a global sort, and the answer is a deterministic
    bucket bound, not an engine-specific interpolation. See
    functions/curation.digit_hist_quantiles."""
    from ocr_spark.functions.curation import digit_hist_quantiles

    return digit_hist_quantiles(
        _t(spark, sf_dir, "documents"), "n_chars", (50, 90, 99))


@query(
    "term_burstiness",
    f"""
    WITH {_WORDS_CTE},
    flat AS (SELECT doc, unnest(words) AS w FROM base),
    td AS (SELECT w, doc, COUNT(*) AS n FROM flat GROUP BY w, doc),
    v AS (SELECT w, CAST(SUM(n) AS BIGINT) AS cf,
                 CAST(COUNT(*) AS BIGINT) AS df
          FROM td GROUP BY w)
    SELECT w, cf, df,
           CAST((cf * 10000) // df AS BIGINT) AS burstiness_bp
    FROM v WHERE df >= 5
    ORDER BY burstiness_bp DESC, w LIMIT 100
    """,
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: collection frequency over document
    frequency in basis points — a bursty term (cf >> df) concentrates in
    few documents (topical/template vocabulary), a non-bursty one spreads
    evenly (function words). The curation read: extreme burstiness at
    high cf flags boilerplate/template tokens that repetition filters
    should see.

    Scale shape: the (term, doc) pre-agg makes df a plain COUNT instead
    of a data-sized COUNT DISTINCT; both aggs have map-side partials and
    the global top-100 compiles to TakeOrdered, never a total sort."""
    base = _cpu(spark, sf_dir, "documents")
    words = _lower_words()
    flat = base.select(F.col("doc_id").alias("doc"), F.explode(words).alias("w"))
    td = flat.groupBy("w", "doc").agg(F.count(F.lit(1)).alias("n"))
    v = td.groupBy("w").agg(
        F.sum("n").cast("bigint").alias("cf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    return (
        v.filter(F.col("df") >= 5)
        .select(
            "w", "cf", "df",
            F.expr("CAST((cf * 10000) div df AS BIGINT)")
            .alias("burstiness_bp"),
        )
        .orderBy(F.col("burstiness_bp").desc(), "w")
        .limit(100)
    )


def _power_iter_oracle(n_iters: int = 3) -> str:
    """Unrolled fixed-point power iteration. DuckDB's // FLOORS while
    Spark's div TRUNCATES toward zero, so every signed division is
    spelled as a sign CASE over positive //; the normalizer scalars (m,
    q0) are positive, so their own // is safe."""
    V = 10**6
    Q = 1 << 20

    def trunc(x: str, d: str) -> str:
        return (f"(CASE WHEN ({x}) >= 0 THEN ({x}) // ({d})"
                f" ELSE -((-({x})) // ({d})) END)")

    def norm(src: str, key: str, val: str, out: str) -> str:
        inner = trunc(val, f"GREATEST(m // {V}, 1)")
        full = trunc(f"{inner} * {V}",
                     f"GREATEST(m // GREATEST(m // {V}, 1), 1)")
        return (f"SELECT {key}, CAST({full} AS BIGINT) AS {out}"
                f" FROM {src} CROSS JOIN (SELECT GREATEST(MAX(ABS({val})),"
                f" 1) AS m FROM {src})")

    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    d{i} AS MATERIALIZED (
      SELECT b.nid, SUM(b.q * v.v) AS dot
      FROM base b JOIN v{i - 1} v USING (pos) GROUP BY b.nid),
    dn{i} AS MATERIALIZED ({norm(f'd{i}', 'nid', 'dot', 'd')}),
    w{i} AS MATERIALIZED (
      SELECT b.pos, SUM(b.q * d.d) AS w
      FROM base b JOIN dn{i} d USING (nid) GROUP BY b.pos),
    v{i} AS MATERIALIZED ({norm(f'w{i}', 'pos', 'w', 'v')})"""
    prefix = f"""
    WITH base AS MATERIALIZED (
      SELECT nid, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {{'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * CAST({Q} AS DOUBLE)) AS BIGINT)}})
                 AS pairs
        FROM embeddings)),
    v0 AS MATERIALIZED (
      SELECT DISTINCT pos, CAST({V} AS BIGINT) AS v FROM base){iters}"""
    return (prefix
            + f"\n    SELECT CAST(pos AS BIGINT) AS pos, v FROM v{n_iters}\n")


def _power_iter_cte(n_iters: int = 3) -> str:
    """The WITH-prefix of :func:`_power_iter_oracle` (base + v0..vN CTEs,
    no final SELECT) for oracles that post-process the converged
    direction."""
    full = _power_iter_oracle(n_iters)
    return full[: full.rindex("SELECT")]


@query("power_iteration", _power_iter_oracle())
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding second-moment matrix
    by 3 rounds of deterministic fixed-point power iteration (exact
    int64; truncating division spelled identically in both engines) —
    the embedding-space collapse/whitening audit. See
    functions/similarity.power_iteration."""
    out = similarity.power_iteration(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select(F.col("pos").cast("bigint").alias("pos"), "v")


@query(
    "axis_share",
    _power_iter_cte() + """SELECT
      CAST((SELECT COUNT(DISTINCT nid) FROM base) AS BIGINT) AS n_vecs,
      CAST((SELECT COUNT(*) FROM v3) AS BIGINT) AS n_dims,
      CAST(FLOOR(10000.0 * (
        CAST((SELECT SUM(d.dot * d.dot) FROM (
                SELECT SUM(b.q * v.v) AS dot
                FROM base b JOIN v3 v USING (pos) GROUP BY b.nid) d)
             AS DOUBLE)
        / (CAST((SELECT SUM(v * v) FROM v3) AS DOUBLE)
           * CAST((SELECT SUM(q * q) FROM base) AS DOUBLE))))
      AS BIGINT) AS share_bp
    """,
)
def q_axis_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of total embedding second-moment mass carried by the
    dominant principal axis, in basis points: the Rayleigh quotient of
    the power-iteration direction over trace(X^T X). share_bp near
    10000 = representation collapse; near 10000/dim = isotropic. Sums
    are exact (DECIMAL(38) squares, order-free); the one final division
    is a single scalar double op spelled identically in both engines.
    Plan: power_iteration's zero-reshuffle rounds, then one broadcast
    join + two aggs over the quantized form. See
    functions/similarity.axis_share."""
    return similarity.axis_share(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_iters=3)


@query(
    "embedding_outliers",
    """
    WITH base AS MATERIALIZED (
      SELECT nid, grp, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid, label AS grp,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * 1048576.0) AS BIGINT)}) AS pairs
        FROM embeddings)),
    cent AS (
      SELECT pos,
             CASE WHEN SUM(q) >= 0 THEN SUM(q) // COUNT(*)
                  ELSE -((-SUM(q)) // COUNT(*)) END AS c
      FROM base GROUP BY pos),
    d2 AS (
      SELECT b.nid, b.grp, SUM((b.q - c.c) * (b.q - c.c)) AS d2
      FROM base b JOIN cent c USING (pos) GROUP BY b.nid, b.grp),
    tot AS (SELECT SUM(d2) AS sum_d2, COUNT(*) AS n_all FROM d2)
    SELECT CAST(grp AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN 4 * d2 * n_all > 9 * sum_d2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN 4 * d2 * n_all > 9 * sum_d2
                    THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
               AS outlier_bp
    FROM d2 CROSS JOIN tot GROUP BY grp
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: vectors farther than 1.5x the RMS
    distance from the corpus centroid, tested by pure integer
    cross-multiplication (4*d²*N > 9*Σd²) over DECIMAL(38) sums. See
    functions/similarity.embedding_outliers."""
    out = similarity.embedding_outliers(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label")
    return out.select(F.col("label").cast("bigint").alias("label"),
                      "n_vecs", "n_outliers", "outlier_bp")


_NDCG_DISCOUNTS = [1000000, 630930, 500000, 430677, 386853,
                   356207, 333333, 315465, 301030, 289065]


@query(
    "bm25_ndcg",
    f"""
    WITH {_WORDS_CTE.strip()},
    rel AS (
      SELECT doc,
             CAST(list_contains(words, 'spark') AS INTEGER)
             + CAST(list_contains(words, 'window') AS INTEGER)
             + CAST(list_contains(words, 'merge') AS INTEGER) AS rel
      FROM base),
    d AS (SELECT unnest([{", ".join(
        f"{{'rank': {i + 1}, 'disc': {d}}}"
        for i, d in enumerate(_NDCG_DISCOUNTS))}], recursive := true)),
    docs AS (SELECT doc, CAST(len(words) AS BIGINT) AS dl FROM base),
    tot AS (SELECT COUNT(*) AS n,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM docs),
    flat AS (SELECT doc, w FROM (SELECT doc, unnest(words) AS w FROM base)
             WHERE w IN ('spark', 'window', 'merge')),
    tf AS (SELECT doc, w, COUNT(*) AS tf FROM flat GROUP BY doc, w),
    dfq AS (SELECT w, COUNT(*) AS dfq FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc, tf.w,
             LN(1.0 + (CAST(tot.n AS DOUBLE) - dfq.dfq + 0.5)
                      / (dfq.dfq + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(docs.dl AS DOUBLE) / tot.avgdl))
                 AS s
      FROM tf JOIN docs USING (doc) JOIN dfq USING (w) CROSS JOIN tot),
    p AS (SELECT doc,
                 COALESCE(MAX(CASE WHEN w = 'spark' THEN s END), 0)
                 + COALESCE(MAX(CASE WHEN w = 'window' THEN s END), 0)
                 + COALESCE(MAX(CASE WHEN w = 'merge' THEN s END), 0) AS s
          FROM scored GROUP BY doc),
    ranked AS (
      SELECT doc, ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC, doc) AS rk
      FROM p),
    dcg AS (
      SELECT SUM(rel.rel * d.disc) AS dcg_micro
      FROM ranked JOIN rel USING (doc) JOIN d ON d.rank = ranked.rk
      WHERE ranked.rk <= 10),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc) AS rk
      FROM rel),
    idcg AS (
      SELECT SUM(ideal.rel * d.disc) AS idcg_micro
      FROM ideal JOIN d ON d.rank = ideal.rk WHERE ideal.rk <= 10)
    SELECT CAST(dcg_micro AS BIGINT) AS dcg_micro,
           CAST(idcg_micro AS BIGINT) AS idcg_micro,
           CAST(dcg_micro * 10000 // idcg_micro AS BIGINT) AS ndcg_bp
    FROM dcg CROSS JOIN idcg
    """,
)
def q_bm25_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking against a deterministic relevance
    oracle (rel = number of distinct query terms a document contains,
    0-3): the retrieval-quality eval for the index layer, exact to the
    last integer (log2 position discounts pre-quantized to micro-units
    as shared literal tables, DCG/IDCG as integer sums, final ratio a
    truncating integer division). Plan: bm25_topk's scan-fused
    term-filtered stats + two small ranked joins."""
    from ocr_spark.functions.curation import bm25_topk

    docs = _cpu(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    rel = docs.select(
        F.col("doc_id").alias("doc"),
        (F.array_contains(words, "spark").cast("int")
         + F.array_contains(words, "window").cast("int")
         + F.array_contains(words, "merge").cast("int")).alias("rel"),
    )
    disc = F.array(*[F.lit(d) for d in _NDCG_DISCOUNTS])
    top = bm25_topk(docs, "doc_id", "text",
                    terms=("spark", "window", "merge"), k=10)
    dcg = (
        top.join(rel, "doc")
        .select((F.col("rel")
                 * F.element_at(disc, F.col("rank").cast("int"))).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("dcg_micro"))
    )
    w = Window.orderBy(F.desc("rel"), F.asc("doc"))
    idcg = (
        rel.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select((F.col("rel")
                 * F.element_at(disc, F.col("rk").cast("int"))).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("idcg_micro"))
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "dcg_micro", "idcg_micro",
        F.expr("CAST(dcg_micro * 10000 div idcg_micro AS BIGINT)")
        .alias("ndcg_bp"),
    )


def _jl_sign_sql() -> str:
    return ("CASE WHEN CAST(('0x' || substr(md5(CAST(pos AS VARCHAR)"
            " || '|' || CAST(p AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0"
            " THEN 1 ELSE -1 END")


@query(
    "jl_distortion",
    f"""
    WITH base AS MATERIALIZED (
      SELECT nid, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {{'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * 1048576.0) AS BIGINT)}}) AS pairs
        FROM embeddings)),
    probe AS (
      SELECT nid AS a, nid + 1 AS b FROM (SELECT DISTINCT nid FROM base)
      WHERE nid < 50),
    d_orig AS (
      SELECT p.a, p.b, SUM((l.q - r.q) * (l.q - r.q)) AS d2_orig
      FROM probe p
      JOIN base l ON l.nid = p.a
      JOIN base r ON r.nid = p.b AND r.pos = l.pos
      GROUP BY p.a, p.b),
    fan AS (
      SELECT nid, pos, q, p
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p)),
    proj AS (
      SELECT nid, p, SUM(q * {_jl_sign_sql()}) AS y
      FROM fan GROUP BY nid, p),
    d_proj AS (
      SELECT pr.a, pr.b, SUM((l.y - r.y) * (l.y - r.y)) AS d2_proj
      FROM probe pr
      JOIN proj l ON l.nid = pr.a
      JOIN proj r ON r.nid = pr.b AND r.p = l.p
      GROUP BY pr.a, pr.b)
    SELECT CAST(o.a AS BIGINT) AS qid_a, CAST(o.b AS BIGINT) AS qid_b,
           CAST(CASE WHEN o.d2_orig = 0 THEN NULL
                ELSE j.d2_proj * 10000 // (16 * o.d2_orig) END AS BIGINT)
               AS ratio_bp
    FROM d_orig o JOIN d_proj j ON j.a = o.a AND j.b = o.b
    """,
)
def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→16 projection with measured (not assumed)
    distortion on 50 probe pairs: d²_proj/(16·d²_orig) in basis points,
    10000 = the JL expectation. The dimensionality-reduction front end
    that makes every downstream similarity shuffle 4× lighter. See
    functions/similarity.jl_project / jl_distortion."""
    return similarity.jl_distortion(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        out_dim=16, n_pairs=50)


# A score (n_chars) and a binary label (the text has the word "the") per
# document: the input of the classifier-evaluation queries below.
_SCORED_CTE = """scored AS (
      SELECT CAST(n_chars AS BIGINT) AS s,
             CASE WHEN list_contains(
               string_split_regex(lower(trim(text)), '\\s+'), 'the')
               THEN 1 ELSE 0 END AS y
      FROM documents)"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SCORED_CTE``: columns (s, y)."""
    return _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("s"),
        F.array_contains(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "the")
        .cast("int").alias("y"))


@query(
    "quality_auc",
    f"""
    WITH {_SCORED_CTE},
    hist AS (
      SELECT s, COUNT(*) AS c_all, SUM(y) AS c_pos
      FROM scored GROUP BY s),
    r AS (
      SELECT s, c_all, c_pos,
             SUM(c_all) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM hist),
    agg AS (
      SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
             CAST(SUM(c_all) - SUM(c_pos) AS BIGINT) AS n_neg,
             CAST(SUM(c_pos * (2 * (cum - c_all) + c_all + 1)) AS BIGINT)
                 AS r2
      FROM r)
    SELECT n_pos, n_neg,
           CAST((10000 * (r2 - n_pos * (n_pos + 1)))
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp
    FROM agg
    """,
)
def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC (Mann-Whitney rank sum, zero floats) of
    document length as a predictor of containing the stopword 'the' —
    the eval primitive for every scorer in the pipeline. See
    functions/curation.roc_auc."""
    from ocr_spark.functions.curation import roc_auc

    scored = _scored(spark, sf_dir)
    return roc_auc(scored, "s", "y")


def _label_leak_oracle() -> str:
    bsql = _lsh_bucket_oracle_sql()
    cos = ("list_aggregate(list_transform(list_zip(a.nvec, b.nvec),"
           " p -> p[1]*p[2]), 'sum')"
           " / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x),"
           " 'sum'))"
           " * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x),"
           " 'sum')))")
    return f"""
    WITH bk AS ({bsql}),
    base AS (
      SELECT vec_id AS nid, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec,
             b.bucket
      FROM embeddings e JOIN bk b ON e.vec_id = b.doc)
    SELECT a.nid AS doc_a, b.nid AS doc_b,
           CAST(a.label AS BIGINT) AS label_a,
           CAST(b.label AS BIGINT) AS label_b,
           ROUND({cos}, 6) AS cos
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.nid < b.nid
    WHERE a.label <> b.label AND ROUND({cos}, 6) >= CAST(0.3 AS DOUBLE)
    """


@query("label_leakage_pairs", _label_leak_oracle())
def q_label_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-label near-duplicates: sign-LSH bucket join, exact cosine
    within buckets, kept only when the two sides carry DIFFERENT labels
    — the classifier-training consistency audit (near-identical content
    labeled two ways poisons both eval trust and training). Same
    bucketed plan as embedding_near_dup: shuffle key is the bucket,
    never an all-pairs join."""
    emb = _cpu(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "vec_id", "embedding")
    base = emb.select(
        F.col("vec_id").alias("nid"), "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("nvec"),
    ).join(buckets.select(F.col("doc").alias("nid"), "bucket"), "nid")
    a = base.select(F.col("nid").alias("doc_a"),
                    F.col("label").alias("label_a"),
                    F.col("nvec").alias("va"), "bucket")
    b = base.select(F.col("nid").alias("doc_b"),
                    F.col("label").alias("label_b"),
                    F.col("nvec").alias("vb"), "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter((F.col("doc_a") < F.col("doc_b"))
                & (F.col("label_a") != F.col("label_b")))
    )
    cos = F.round(similarity.cosine(F.col("va"), F.col("vb")),
                  similarity.ROUND)
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            cos.alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


@query(
    "f1_threshold_sweep",
    f"""
    WITH {_SCORED_CTE},
    hist AS (
      SELECT s, COUNT(*) AS c_all, SUM(y) AS c_pos
      FROM scored GROUP BY s),
    tot AS (SELECT SUM(c_pos) AS n_pos FROM hist),
    r AS (
      SELECT s AS thr,
             SUM(c_pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(c_all) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pred
      FROM hist),
    f AS (
      SELECT thr, tp, pred - tp AS fp, t.n_pos - tp AS fn,
             20000 * tp // (2 * tp + (pred - tp) + (t.n_pos - tp))
                 AS f1_bp
      FROM r CROSS JOIN tot t WHERE tp > 0)
    SELECT CAST(thr AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(f1_bp AS BIGINT) AS f1_bp
    FROM f ORDER BY f1_bp DESC, thr ASC LIMIT 1
    """,
)
def q_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact F1-optimal threshold search for the predict-positive-when-
    score>=t rule: TP/FP/FN at EVERY distinct score via two descending
    cumulative windows over the score histogram, F1 in basis points by
    integer division, argmax with a smallest-threshold tie-break. The
    operating-point picker that turns quality_auc's ranking quality
    into a deployable gate. Windows run over distinct scores, not docs."""
    scored = _scored(spark, sf_dir)
    hist = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("y").alias("c_pos"))
    tot = hist.agg(F.sum("c_pos").alias("n_pos"))
    w = (Window.orderBy(F.desc("s"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = hist.select(
        F.col("s").alias("thr"),
        F.sum("c_pos").over(w).alias("tp"),
        F.sum("c_all").over(w).alias("pred"),
    )
    f = (
        r.crossJoin(F.broadcast(tot))
        .filter(F.col("tp") > 0)
        .select(
            "thr", "tp",
            (F.col("pred") - F.col("tp")).alias("fp"),
            (F.col("n_pos") - F.col("tp")).alias("fn"),
            F.expr("20000 * tp div (2 * tp + (pred - tp)"
                   " + (n_pos - tp))").alias("f1_bp"),
        )
    )
    return (
        f.orderBy(F.desc("f1_bp"), F.asc("thr")).limit(1)
        .select(
            F.col("thr").cast("bigint").alias("threshold"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.col("f1_bp").cast("bigint").alias("f1_bp"),
        )
    )


@query(
    "source_centroid_drift",
    """
    WITH base AS MATERIALIZED (
      SELECT nid, grp, unnest(pairs, recursive := true) FROM (
        SELECT vec_id AS nid, label AS grp,
               list_transform(generate_series(0, len(embedding) - 1),
                 i -> {'pos': i,
                       'q': CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                       * 1048576.0) AS BIGINT)}) AS pairs
        FROM embeddings)),
    g AS (
      SELECT pos,
             CASE WHEN SUM(q) >= 0 THEN SUM(q) // COUNT(*)
                  ELSE -((-SUM(q)) // COUNT(*)) END AS c
      FROM base GROUP BY pos),
    s AS (
      SELECT grp, pos,
             CASE WHEN SUM(q) >= 0 THEN SUM(q) // COUNT(*)
                  ELSE -((-SUM(q)) // COUNT(*)) END AS sc,
             COUNT(*) AS n
      FROM base GROUP BY grp, pos)
    SELECT CAST(s.grp AS BIGINT) AS label,
           CAST(MAX(s.n) AS BIGINT) AS n_vecs,
           CAST(SUM((s.sc - g.c) * (s.sc - g.c)) AS BIGINT) AS drift_d2
    FROM s JOIN g USING (pos)
    GROUP BY s.grp
    """,
)
def q_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift from the global centroid
    (exact squared distance between truncated integer means) — the
    collapsed-label / mis-routed-encoder check at group granularity,
    complementing embedding_outliers' per-vector view. Two dim-sized
    centroid aggs + one dim-keyed join; the corpus is read once."""
    from ocr_spark.functions.similarity import POWER_Q

    base = _cpu(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nid"), F.col("label").alias("grp"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "x"),
    ).select(
        "grp", "pos",
        F.round(F.col("x") * F.lit(float(POWER_Q))).cast("bigint").alias("q"),
    )
    tr = "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"
    g = (base.groupBy("pos")
         .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
         .select("pos", F.expr(tr).alias("c")))
    s = (base.groupBy("grp", "pos")
         .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
         .select("grp", "pos", F.expr(tr).alias("sc"), "n"))
    return (
        s.join(F.broadcast(g), "pos")
        .groupBy("grp")
        .agg(
            F.max("n").cast("bigint").alias("n_vecs"),
            F.sum((F.col("sc") - F.col("c")) * (F.col("sc") - F.col("c")))
            .cast("bigint").alias("drift_d2"),
        )
        .select(F.col("grp").cast("bigint").alias("label"),
                "n_vecs", "drift_d2")
    )


def _mutual_nn_oracle() -> str:
    bsql = _lsh_bucket_oracle_sql()
    cos = ("ROUND(list_aggregate(list_transform(list_zip(a.nvec, b.nvec),"
           " p -> p[1]*p[2]), 'sum')"
           " / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x),"
           " 'sum'))"
           " * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x),"
           " 'sum'))), 6)")
    return f"""
    WITH bk AS ({bsql}),
    base AS (
      SELECT vec_id AS nid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec,
             b.bucket
      FROM embeddings e JOIN bk b ON e.vec_id = b.doc),
    pairs AS (
      SELECT a.nid AS qid, b.nid AS nid, {cos} AS cos
      FROM base a JOIN base b
        ON a.bucket = b.bucket AND a.nid <> b.nid),
    best AS (
      SELECT qid, nid, cos FROM (
        SELECT qid, nid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cos DESC, nid) AS rk
        FROM pairs) WHERE rk = 1)
    SELECT x.qid AS doc_a, x.nid AS doc_b, x.cos
    FROM best x JOIN best y ON y.qid = x.nid AND y.nid = x.qid
    WHERE x.qid < x.nid
    """


@query("mutual_nn_pairs", _mutual_nn_oracle())
def q_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match pairs: a and b pair iff each is the other's
    top cosine neighbor within their sign-LSH bucket — the mutual-NN
    rule that mines bitext/aligned pairs with far higher precision than
    one-directional top-1. Bucket-bounded pairs + one per-qid argmax
    window + a self-join on the (qid, best) frame (doc-sized, never
    pairwise)."""
    emb = _cpu(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "vec_id", "embedding")
    base = emb.select(
        F.col("vec_id").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("nvec"),
    ).join(buckets.select(F.col("doc").alias("nid"), "bucket"), "nid")
    a = base.select(F.col("nid").alias("qid"), F.col("nvec").alias("va"),
                    "bucket")
    b = base.select(F.col("nid").alias("nid"), F.col("nvec").alias("vb"),
                    "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid",
                F.round(similarity.cosine(F.col("va"), F.col("vb")),
                        similarity.ROUND).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    best = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("qid", "nid", "cos")
    )
    back = best.select(F.col("qid").alias("nid2"),
                       F.col("nid").alias("qid2"))
    return (
        best.join(back, (best["qid"] == F.col("qid2"))
                  & (best["nid"] == F.col("nid2")))
        .filter(F.col("qid") < F.col("nid"))
        .select(F.col("qid").alias("doc_a"), F.col("nid").alias("doc_b"),
                "cos")
    )


@query(
    "ngram_precision",
    """
    WITH t AS (
      SELECT doc_id AS doc,
             string_split_regex(trim(text), '\\s+') AS gw
      FROM documents),
    pred AS (
      SELECT doc, gw,
             list_concat(
               [gw[i] for i in generate_series(1, len(gw))
                      if i % 7 <> 0],
               ['subscribe', 'now']) AS pw
      FROM t),
    gg AS (
      SELECT doc, g.w || ' ' || g.w2 AS gram, COUNT(*) AS tf_gold
      FROM (SELECT doc, unnest([{'w': gw[i], 'w2': gw[i + 1]}
                  for i in generate_series(1, len(gw) - 1)],
                  recursive := true) FROM pred) g
      GROUP BY doc, g.w || ' ' || g.w2),
    pg AS (
      SELECT doc, g.w || ' ' || g.w2 AS gram, COUNT(*) AS tf_pred
      FROM (SELECT doc, unnest([{'w': pw[i], 'w2': pw[i + 1]}
                  for i in generate_series(1, len(pw) - 1)],
                  recursive := true) FROM pred) g
      GROUP BY doc, g.w || ' ' || g.w2),
    ov AS (
      SELECT p.doc,
             SUM(LEAST(p.tf_pred, COALESCE(gg.tf_gold, 0))) AS clipped,
             SUM(p.tf_pred) AS total
      FROM pg p LEFT JOIN gg ON gg.doc = p.doc AND gg.gram = p.gram
      GROUP BY p.doc)
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(clipped AS BIGINT) AS clipped,
           CAST(total AS BIGINT) AS total,
           CAST(10000 * clipped // total AS BIGINT) AS precision_bp
    FROM ov WHERE total > 0
    """,
)
def q_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified bigram precision (the BLEU building block) of the
    degraded extraction against gold: per doc, clipped bigram matches
    over predicted bigrams, exact basis points — the sequence-aware
    complement of extraction_eval's token-bag F1 (dropping every 7th
    word breaks bigrams token-bag metrics can't see). Two (doc, gram)
    aggs + one gram-keyed join; grams shuffle as strings only within
    doc-keyed groups."""
    docs = _cpu(spark, sf_dir, "documents")
    gw = F.split(F.trim(F.col("text")), r"\s+")
    pw = F.concat(
        F.filter(gw, lambda x, i: (i + 1) % 7 != 0),
        F.array(F.lit("subscribe"), F.lit("now")))
    base = docs.select(F.col("doc_id").alias("doc"), gw.alias("gw"),
                       pw.alias("pw"))

    def grams(col):
        n = F.size(col)
        return F.zip_with(
            F.slice(col, 1, n - 1), F.slice(col, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y))

    gg = (base.select("doc", F.explode(grams(F.col("gw"))).alias("gram"))
          .groupBy("doc", "gram").agg(F.count(F.lit(1)).alias("tf_gold")))
    pg = (base.select("doc", F.explode(grams(F.col("pw"))).alias("gram"))
          .groupBy("doc", "gram").agg(F.count(F.lit(1)).alias("tf_pred")))
    ov = (
        pg.join(gg, ["doc", "gram"], "left")
        .groupBy("doc")
        .agg(
            F.sum(F.least(F.col("tf_pred"),
                          F.coalesce(F.col("tf_gold"), F.lit(0))))
            .alias("clipped"),
            F.sum("tf_pred").alias("total"),
        )
        .filter(F.col("total") > 0)
    )
    return ov.select(
        F.col("doc").cast("bigint").alias("doc_id"),
        F.col("clipped").cast("bigint").alias("clipped"),
        F.col("total").cast("bigint").alias("total"),
        F.expr("CAST(10000 * clipped div total AS BIGINT)")
        .alias("precision_bp"),
    )


@query(
    "metric_correlation",
    """
    WITH m AS (
      SELECT source,
             CAST(n_chars AS BIGINT) AS x,
             CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS y
      FROM documents WHERE length(trim(text)) > 0),
    s AS (
      SELECT source, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM m GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(FLOOR(10000.0 * CAST(n * sxy - CAST(sx AS HUGEINT) * sy
                                     AS DOUBLE)
             / SQRT(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
             AS BIGINT) AS corr_bp
    FROM s
    WHERE n * sxx - CAST(sx AS HUGEINT) * sx > 0
      AND n * syy - CAST(sy AS HUGEINT) * sy > 0
    """,
)
def q_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Pearson correlation (basis points) between document
    length and word count per source: all five power sums are exact
    DECIMAL(38) integers (order-free under any partitioning), and the
    only float op is the single final quotient, spelled identically
    cross-engine — the generic two-metric correlation primitive
    (quality-vs-length, depth-vs-spam, any drift pair). One source agg
    with map-side partials."""
    m = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    ).select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
        .alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    num = "n * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
    dx = "n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
    dy = "n * syy - CAST(sy AS DECIMAL(38,0)) * sy"
    return (
        s.filter(F.expr(f"({dx}) > 0 AND ({dy}) > 0"))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.expr(
                f"CAST(FLOOR(10000.0D * CAST(({num}) AS DOUBLE)"
                f" / SQRT(CAST(({dx}) AS DOUBLE)"
                f" * CAST(({dy}) AS DOUBLE))) AS BIGINT)")
            .alias("corr_bp"),
        )
    )


def _lang_acc_oracle() -> str:
    return f"""
    WITH lid AS ({_lang_id_oracle()}),
    agg AS (
      SELECT labeled_lang,
             COUNT(*) AS n,
             SUM(CASE WHEN predicted_lang = labeled_lang
                 THEN 1 ELSE 0 END) AS n_correct,
             SUM(CASE WHEN predicted_lang = 'unknown'
                 THEN 1 ELSE 0 END) AS n_unknown
      FROM lid GROUP BY labeled_lang)
    SELECT labeled_lang,
           CAST(n AS BIGINT) AS n_docs,
           CAST(n_correct AS BIGINT) AS n_correct,
           CAST(n_unknown AS BIGINT) AS n_unknown,
           CAST(n_correct * 10000 // n AS BIGINT) AS acc_bp
    FROM agg
    """


@query("lang_id_accuracy", _lang_acc_oracle())
def q_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class accuracy rollup of the marker-word language identifier
    against the corpus labels (plus the unknown-rate): the eval that
    decides whether the cheap lang-ID is good enough to route documents
    or a real classifier is needed per class. Composes the lang_id
    projection with one labeled-class agg."""
    lid = q_lang_id(spark, sf_dir)
    return (
        lid.groupBy("labeled_lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("predicted_lang") == F.col("labeled_lang"),
                         1).otherwise(0)).cast("bigint")
            .alias("n_correct"),
            F.sum(F.when(F.col("predicted_lang") == "unknown", 1)
                  .otherwise(0)).cast("bigint").alias("n_unknown"),
            F.expr("CAST(SUM(CASE WHEN predicted_lang = labeled_lang"
                   " THEN 1 ELSE 0 END) * 10000 div COUNT(*) AS BIGINT)")
            .alias("acc_bp"),
        )
    )


def _tdiv_duck(x: str, s: str) -> str:
    """Truncate-toward-zero div in DuckDB SQL (``//`` floors on negatives)."""
    return f"(CASE WHEN {x} >= 0 THEN ({x}) // ({s}) ELSE -((-({x})) // ({s})) END)"


_GRAM_SCALE = 1 << 20


@query(
    "gram_moments",
    f"""
    WITH v AS (
      SELECT vec_id,
             list_append(
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * {_GRAM_SCALE}) AS BIGINT)),
               CAST(label AS BIGINT) * {_GRAM_SCALE}) AS aug
      FROM embeddings),
    e AS (
      SELECT vec_id, unnest(aug) AS q,
             unnest(range(1, len(aug) + 1)) AS i
      FROM v)
    SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
           CAST(SUM(a.q * b.q) AS BIGINT) AS s_q
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def q_gram_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented normal-equations moments (X^T X, X^T y, y^T y in one
    upper-triangle frame) over the embeddings table — the distributed
    half of closed-form linear-probe training. See
    functions/similarity.gram_moments."""
    return similarity.gram_moments(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label"
    )


def _pca_oracle(iters: int = 8, scale: int = _GRAM_SCALE) -> str:
    td = _tdiv_duck
    parts = [f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS q
      FROM embeddings),
    e AS (
      SELECT vec_id, unnest(q) AS q,
             unnest(range(1, len(q) + 1)) AS i
      FROM v),
    gu AS (
      SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2),
    g AS (
      SELECT i, j, {td('s', scale)} AS s FROM gu
      UNION ALL
      SELECT j AS i, i AS j, {td('s', scale)} AS s FROM gu WHERE i != j),
    v0 AS (SELECT DISTINCT i, CAST({scale} AS BIGINT) AS x FROM g)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
    w{t} AS (
      SELECT g.i, SUM(g.s * p.x) AS wx
      FROM g JOIN v{t - 1} p ON g.j = p.i GROUP BY g.i),
    s{t} AS (SELECT GREATEST(MAX(abs(wx)) // {scale}, 1) AS s FROM w{t}),
    v{t} AS (
      SELECT w.i, {td('w.wx', 'st.s')} AS x FROM w{t} w, s{t} st)""")
    parts.append(f"""
    SELECT e.vec_id AS id,
           CAST({td('SUM(e.q * vf.x)', scale)} AS BIGINT) AS proj_micro
    FROM e JOIN v{iters} vf ON e.i = vf.i
    GROUP BY e.vec_id""")
    return "".join(parts)


@query("pca_power_projection", _pca_oracle())
def q_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-principal-direction projection per embedding via exact
    integer power iteration (8 fixed steps, truncate-toward-zero
    normalization); the DuckDB twin unrolls the identical steps as CTEs
    over the mirrored gram frame. See
    functions/similarity.pca_power_projection."""
    return similarity.pca_power_projection(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@query(
    "hll_merge_daily",
    f"""
    WITH src AS (
      SELECT strftime(ts, '%Y-%m-%d') AS scope,
             CAST(user_id AS VARCHAR) AS v
      FROM events),
    h AS (
      SELECT scope,
             ('0x' || substr(md5(v), 1, 8))::BIGINT AS h
      FROM src),
    p AS (SELECT scope, h // 16777216 AS j, h % 16777216 AS rest FROM h),
    r AS (SELECT scope, j, CASE WHEN rest = 0 THEN 25
                                ELSE 25 - length(bin(rest)) END AS rho
          FROM p),
    day_regs AS (SELECT scope, j, MAX(rho) AS mj FROM r GROUP BY 1, 2),
    merged AS (SELECT 'ALL' AS scope, j, MAX(mj) AS mj
               FROM day_regs GROUP BY j),
    regs AS (SELECT * FROM day_regs UNION ALL SELECT * FROM merged),
    scopes AS (SELECT DISTINCT scope FROM regs),
    frame AS (
      SELECT s.scope, g.j FROM scopes s
      CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS j) g),
    filled AS (
      SELECT f.scope, COALESCE(regs.mj, 0) AS mj
      FROM frame f LEFT JOIN regs ON f.scope = regs.scope AND f.j = regs.j),
    s AS (SELECT scope,
                 CAST(SUM(CAST(1 AS BIGINT) << (32 - mj)) AS BIGINT)
                     AS sum_scaled,
                 CAST(SUM(CAST(mj = 0 AS INT)) AS BIGINT) AS n_zero
          FROM filled GROUP BY scope),
    ex AS (
      SELECT strftime(ts, '%Y-%m-%d') AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events),
    est AS (
      SELECT scope, sum_scaled, n_zero,
             CAST({_HLL_ALPHA_MM} AS DOUBLE)
               / (CAST(sum_scaled AS DOUBLE) / CAST(4294967296 AS DOUBLE))
                 AS raw,
             CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE)
               / CAST(n_zero AS DOUBLE)) AS linear
      FROM s)
    SELECT e.scope, e.sum_scaled, e.n_zero,
           ROUND(CASE WHEN e.n_zero > 0 AND e.raw < 640.0
                      THEN e.linear ELSE e.raw END, 2) AS est_distinct,
           ex.exact_distinct
    FROM est e JOIN ex USING (scope)
    """,
)
def q_hll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch incremental distinct: per-day HLL register frames
    over user_id, with the ALL row computed ONLY by MAX-merging the
    per-day registers (never re-reading events) — the snapshot-
    incremental uniques pattern. See functions/curation.hll_merged_daily."""
    from ocr_spark.functions.curation import hll_merged_daily

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    return hll_merged_daily(ev, "uid", "day", b=8)


_BENFORD_EXP = [(1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
                (6, 669), (7, 580), (8, 512), (9, 458)]


@query(
    "benford_audit",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
    exp AS (
      SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969),
                            (5, 792), (6, 669), (7, 580), (8, 512),
                            (9, 458)) AS t(digit, exp_bp))
    SELECT counts.digit, counts.n,
           CAST(counts.n * 10000 // tot.total AS BIGINT) AS obs_bp,
           CAST(exp.exp_bp AS BIGINT) AS exp_bp,
           CAST((counts.n * 10000 // tot.total - exp.exp_bp)
                * (counts.n * 10000 // tot.total - exp.exp_bp)
                // exp.exp_bp AS BIGINT) AS chi2_contrib
    FROM counts CROSS JOIN tot JOIN exp ON counts.digit = exp.digit
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the standard
    synthetic-data / fraud screen: naturally-occurring amounts follow
    log10(1+1/d) first-digit frequencies, and fabricated or
    machine-generated numbers don't. Per-digit observed share in exact
    basis points against the fixed expected table (which sums to
    exactly 10000 bp), with an integer chi-square contribution per
    digit. One 9-group aggregate + a 1-row broadcast total — the
    scalar-denominator pattern; expected digits are a 9-row broadcast
    dim."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    counts = (
        orders.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(F.substring(F.col("cents").cast("string"), 1, 1)
                .cast("int").alias("digit"))
        .groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = counts.agg(F.sum("n").cast("bigint").alias("total"))
    exp = spark.createDataFrame(_BENFORD_EXP, ["digit", "exp_bp"])
    joined = (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(exp), "digit"))
    return joined.select(
        "digit", "n",
        F.expr("n * 10000 div total").cast("bigint").alias("obs_bp"),
        F.col("exp_bp").cast("bigint").alias("exp_bp"),
        F.expr("(n * 10000 div total - exp_bp)"
               " * (n * 10000 div total - exp_bp) div exp_bp")
        .cast("bigint").alias("chi2_contrib"))


@query(
    "mad_outliers",
    """
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    r AS (
      SELECT priority, cents,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY cents)
               AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM c),
    med AS (
      SELECT priority, cents AS median_cents
      FROM r WHERE rn = (n + 1) // 2),
    d AS (
      SELECT c.priority, c.cents,
             abs(c.cents - m.median_cents) AS dev, m.median_cents
      FROM c JOIN med m ON c.priority = m.priority),
    rd AS (
      SELECT priority, dev, median_cents,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY dev)
               AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM d),
    mad AS (
      SELECT priority, dev AS mad_cents
      FROM rd WHERE rn = (n + 1) // 2)
    SELECT d.priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(d.median_cents) AS BIGINT) AS median_cents,
           CAST(MAX(mad.mad_cents) AS BIGINT) AS mad_cents,
           CAST(COALESCE(SUM(CASE WHEN d.dev > 3 * mad.mad_cents
                                  THEN 1 END), 0) AS BIGINT)
             AS n_outliers,
           CAST(COALESCE(SUM(CASE WHEN d.dev > 3 * mad.mad_cents
                                  THEN 1 END), 0) * 10000 // COUNT(*)
                AS BIGINT) AS outlier_bp
    FROM d JOIN mad ON d.priority = mad.priority
    GROUP BY d.priority
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per order priority — the
    robust alternative to z-scores (one mega-order shifts a mean and
    stddev but not a median), run before revenue aggregates so fat-
    finger amounts are quarantined. Low median (element (n+1) div 2 of
    the sorted list) instead of the interpolated median keeps every
    value an exact integer both engines agree on. Two window passes
    partitioned by priority; at 10^12 rows the same statistic comes
    from per-partition histogram sketches, but the exact version is the
    correctness anchor."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("cents"))
    wp = Window.partitionBy("priority")
    r = c.select(
        "priority", "cents",
        F.row_number().over(wp.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    med = r.filter(F.expr("rn = (n + 1) div 2")).select(
        "priority", F.col("cents").alias("median_cents"))
    d = c.join(F.broadcast(med), "priority").select(
        "priority", "cents", "median_cents",
        F.abs(F.col("cents") - F.col("median_cents")).alias("dev"))
    rd = d.select(
        "priority", "dev", "median_cents",
        F.row_number().over(wp.orderBy("dev")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    mad = rd.filter(F.expr("rn = (n + 1) div 2")).select(
        "priority", F.col("dev").alias("mad_cents"))
    joined = d.join(F.broadcast(mad), "priority")
    return joined.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("median_cents").cast("bigint").alias("median_cents"),
        F.max("mad_cents").cast("bigint").alias("mad_cents"),
        F.coalesce(F.sum(F.when(
            F.col("dev") > 3 * F.col("mad_cents"), 1)), F.lit(0))
        .cast("bigint").alias("n_outliers"),
        F.expr("COALESCE(SUM(CASE WHEN dev > 3 * mad_cents THEN 1 END),"
               " 0) * 10000 div COUNT(*)")
        .cast("bigint").alias("outlier_bp"))


@query(
    "ab_experiment_chi2",
    """
    WITH assign AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS converted
      FROM events),
    cells AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN variant = 'A' AND converted = 1
                               THEN 1 END), 0) AS BIGINT) AS a,
        CAST(COALESCE(SUM(CASE WHEN variant = 'A' AND converted = 0
                               THEN 1 END), 0) AS BIGINT) AS b,
        CAST(COALESCE(SUM(CASE WHEN variant = 'B' AND converted = 1
                               THEN 1 END), 0) AS BIGINT) AS c,
        CAST(COALESCE(SUM(CASE WHEN variant = 'B' AND converted = 0
                               THEN 1 END), 0) AS BIGINT) AS d
      FROM assign)
    SELECT a, b, c, d,
           CAST(a + b + c + d AS BIGINT) AS n,
           CAST(a * 10000 // GREATEST(a + b, 1) AS BIGINT)
             AS rate_a_bp,
           CAST(c * 10000 // GREATEST(c + d, 1) AS BIGINT)
             AS rate_b_bp,
           CAST(CAST(a + b + c + d AS HUGEINT)
                * (a * d - b * c) * (a * d - b * c) * 10000
                // GREATEST(CAST(a + b AS HUGEINT) * (c + d) * (a + c)
                            * (b + d), 1) AS BIGINT) AS chi2_x10000,
           CAST(CASE WHEN CAST(a + b + c + d AS HUGEINT)
                  * (a * d - b * c) * (a * d - b * c) * 10000
                  // GREATEST(CAST(a + b AS HUGEINT) * (c + d) * (a + c)
                              * (b + d), 1) >= 38415
                THEN 1 ELSE 0 END AS INT) AS significant
    FROM cells
    """,
)
def q_ab_experiment_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with an exact-integer chi-square — variant
    by user-hash parity, conversion by a deterministic event property,
    the 2x2 contingency chi2 = n(ad-bc)^2 / (row and column margins) in
    x10000 fixed point. The cross terms overflow int64 at sf0.1
    ((ad-bc)^2 alone reaches ~10^18), so both engines compute in 128
    bits (HUGEINT / DECIMAL(38,0)) — the same widening discipline as
    the share-ratio operators. Significance at the 3.8415 (p=0.05,
    1 df) threshold. One scan, one 4-cell conditional aggregate —
    map-side partials do all the work."""
    ev = _t(spark, sf_dir, "events")
    assign = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise("B")
        .alias("variant"),
        (F.col("event_id") % 7 == 0).cast("int").alias("converted"))
    cells = assign.agg(
        F.coalesce(F.sum(F.when((F.col("variant") == "A")
                                & (F.col("converted") == 1), 1)),
                   F.lit(0)).cast("bigint").alias("a"),
        F.coalesce(F.sum(F.when((F.col("variant") == "A")
                                & (F.col("converted") == 0), 1)),
                   F.lit(0)).cast("bigint").alias("b"),
        F.coalesce(F.sum(F.when((F.col("variant") == "B")
                                & (F.col("converted") == 1), 1)),
                   F.lit(0)).cast("bigint").alias("c"),
        F.coalesce(F.sum(F.when((F.col("variant") == "B")
                                & (F.col("converted") == 0), 1)),
                   F.lit(0)).cast("bigint").alias("d"))
    chi2 = (
        "CAST(a + b + c + d AS DECIMAL(38,0))"
        " * (a * d - b * c) * (a * d - b * c) * 10000"
        " div GREATEST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c)"
        " * (b + d), 1)")
    return cells.select(
        "a", "b", "c", "d",
        F.expr("a + b + c + d").cast("bigint").alias("n"),
        F.expr("a * 10000 div GREATEST(a + b, 1)").cast("bigint")
        .alias("rate_a_bp"),
        F.expr("c * 10000 div GREATEST(c + d, 1)").cast("bigint")
        .alias("rate_b_bp"),
        F.expr(chi2).cast("bigint").alias("chi2_x10000"),
        (F.expr(chi2) >= 38415).cast("int").alias("significant"))


@query(
    "latency_percentiles",
    """
    WITH v AS (
      SELECT event_type,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events),
    r AS (
      SELECT event_type, v_us,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v_us)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v_us END)
                AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN v_us END)
                AS BIGINT) AS p95_us,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN v_us END)
                AS BIGINT) AS p99_us
    FROM r GROUP BY event_type
    """,
)
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles (p50/p95/p99) per event type over
    micro-unit integer values — the SLO readout. Nearest-rank
    (ceil(q*n), computed as (n*q+99) div 100 in integers) instead of
    interpolation keeps every reported value an actual observed sample
    and makes both engines agree exactly; interpolated percentiles are
    engine-dependent floats. One window pass partitioned by type + one
    conditional aggregate; at 10^12 events the same statistic comes
    from mergeable histogram sketches with these exact values as the
    correctness anchor (same discipline as mad_outliers)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v_us"))
    wp = Window.partitionBy("event_type")
    r = v.select(
        "event_type", "v_us",
        F.row_number().over(wp.orderBy("v_us")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(F.expr("rn = (n * 50 + 99) div 100"),
                     F.col("v_us"))).cast("bigint").alias("p50_us"),
        F.max(F.when(F.expr("rn = (n * 95 + 99) div 100"),
                     F.col("v_us"))).cast("bigint").alias("p95_us"),
        F.max(F.when(F.expr("rn = (n * 99 + 99) div 100"),
                     F.col("v_us"))).cast("bigint").alias("p99_us"))


@query(
    "audience_overlap",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events),
    totals AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ut GROUP BY event_type),
    pairs AS (
      SELECT x.event_type AS t1, y.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM ut x JOIN ut y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY x.event_type, y.event_type)
    SELECT p.t1, p.t2, p.inter,
           a.n_users AS n1, b.n_users AS n2,
           CAST(p.inter * 10000
                // (a.n_users + b.n_users - p.inter) AS BIGINT)
             AS jaccard_bp
    FROM pairs p
    JOIN totals a ON p.t1 = a.event_type
    JOIN totals b ON p.t2 = b.event_type
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event-type segments — exact pairwise
    Jaccard of user sets, the segmentation-health readout. Spark-first
    shape: one user-keyed distinct, then each user's sorted type array
    emits its pairs IN-ROW (index-aware transform + slice — a user
    touches at most |types| segments, so fan-out is combinations of a
    tiny set), then a pair-keyed count; the user-side self-join the SQL
    twin runs would be a second full shuffle of the fact table. Segment
    totals broadcast back onto the pair counts."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    totals = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))
    arrs = ut.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types"))
    pairs = arrs.select(F.explode(F.flatten(F.transform(
        "types",
        lambda x, i: F.transform(
            F.slice(F.col("types"), i + 2,
                    F.size(F.col("types"))),
            lambda y: F.struct(x.alias("t1"), y.alias("t2")))))
    ).alias("p")).select("p.t1", "p.t2")
    inter = pairs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("bigint").alias("inter"))
    a = totals.select(F.col("event_type").alias("t1"),
                      F.col("n_users").alias("n1"))
    b = totals.select(F.col("event_type").alias("t2"),
                      F.col("n_users").alias("n2"))
    joined = inter.join(F.broadcast(a), "t1").join(F.broadcast(b), "t2")
    return joined.select(
        "t1", "t2", "inter", "n1", "n2",
        F.expr("inter * 10000 div (n1 + n2 - inter)")
        .cast("bigint").alias("jaccard_bp"))


# a deterministic labeler pair: every 7th doc mispredicts to the next class
_LABEL = (["x"], ["y"], ["z"])
_PREDICTED = ([(["y"], ["z"], ["x"])],) + ([_LABEL],) * 6


@query(
    "multiclass_prf",
    f"""
    WITH lab AS (
      SELECT {case_sql('doc_id', _LABEL)} AS truth,
             {case_sql('doc_id', _PREDICTED)} AS pred
      FROM documents),
    conf AS (
      SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY truth, pred),
    cls AS (SELECT unnest(['x', 'y', 'z']) AS cls),
    m AS (
      SELECT cls.cls,
             CAST(COALESCE(SUM(CASE WHEN conf.truth = cls.cls
                    AND conf.pred = cls.cls THEN conf.n END), 0)
                  AS BIGINT) AS tp,
             CAST(COALESCE(SUM(CASE WHEN conf.pred = cls.cls
                    AND conf.truth <> cls.cls THEN conf.n END), 0)
                  AS BIGINT) AS fp,
             CAST(COALESCE(SUM(CASE WHEN conf.truth = cls.cls
                    AND conf.pred <> cls.cls THEN conf.n END), 0)
                  AS BIGINT) AS fn
      FROM cls CROSS JOIN conf GROUP BY cls.cls),
    pr AS (
      SELECT cls, tp, fp, fn,
             CAST(tp * 10000 // GREATEST(tp + fp, 1) AS BIGINT)
               AS precision_bp,
             CAST(tp * 10000 // GREATEST(tp + fn, 1) AS BIGINT)
               AS recall_bp
      FROM m)
    SELECT cls, tp, fp, fn, precision_bp, recall_bp,
           CAST(2 * precision_bp * recall_bp
                // GREATEST(precision_bp + recall_bp, 1) AS BIGINT)
             AS f1_bp
    FROM pr
    """,
)
def q_multiclass_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 in exact basis points — the
    classifier-eval readout every routing model (language, content
    type, quality tier) reports. The deterministic labeler pair plants
    a rotating confusion (every 7th doc mispredicts to the next class)
    so tp/fp/fn are all exercised. Confusion matrix first (a 9-row
    aggregate — the only scan), then per-class conditional sums over
    the TINY matrix crossed with the class dim, never a second pass
    over the data; F1 is the integer harmonic of the bp values."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    lab = docs.select(case_col(k, _LABEL).alias("truth"),
                      case_col(k, _PREDICTED).alias("pred"))
    conf = lab.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    cls = spark.createDataFrame([("x",), ("y",), ("z",)], ["cls"])
    m = (F.broadcast(cls).crossJoin(conf)
         .groupBy("cls")
         .agg(
             F.coalesce(F.sum(F.when(
                 (F.col("truth") == F.col("cls"))
                 & (F.col("pred") == F.col("cls")), F.col("n"))),
                 F.lit(0)).cast("bigint").alias("tp"),
             F.coalesce(F.sum(F.when(
                 (F.col("pred") == F.col("cls"))
                 & (F.col("truth") != F.col("cls")), F.col("n"))),
                 F.lit(0)).cast("bigint").alias("fp"),
             F.coalesce(F.sum(F.when(
                 (F.col("truth") == F.col("cls"))
                 & (F.col("pred") != F.col("cls")), F.col("n"))),
                 F.lit(0)).cast("bigint").alias("fn")))
    pr = m.select(
        "cls", "tp", "fp", "fn",
        F.expr("tp * 10000 div GREATEST(tp + fp, 1)").cast("bigint")
        .alias("precision_bp"),
        F.expr("tp * 10000 div GREATEST(tp + fn, 1)").cast("bigint")
        .alias("recall_bp"))
    return pr.select(
        "cls", "tp", "fp", "fn", "precision_bp", "recall_bp",
        F.expr("2 * precision_bp * recall_bp"
               " div GREATEST(precision_bp + recall_bp, 1)")
        .cast("bigint").alias("f1_bp"))


# Revenue and order count per customer nation: the two metrics the rank
# correlation queries below compare.
_NATION_METRICS_CTE = """nm AS (
      SELECT c.c_nationkey AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey)"""


def _nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_NATION_METRICS_CTE``: (nation, revenue_cents,
    n_orders)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (orders.join(F.broadcast(customer.select("c_custkey",
                                                    "c_nationkey")),
                        orders.o_custkey == F.col("c_custkey"))
            .groupBy(F.col("c_nationkey").alias("nation"))
            .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("bigint")).cast("bigint")
                 .alias("revenue_cents"),
                 F.count(F.lit(1)).cast("bigint").alias("n_orders")))


@query(
    "rank_correlation",
    f"""
    WITH {_NATION_METRICS_CTE},
    pairs AS (
      SELECT x.revenue_cents AS r1, y.revenue_cents AS r2,
             x.n_orders AS c1, y.n_orders AS c2
      FROM nm x JOIN nm y ON x.nation < y.nation),
    cls AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN (r1 - r2) * (c1 - c2) > 0
                               THEN 1 END), 0) AS BIGINT) AS concordant,
        CAST(COALESCE(SUM(CASE WHEN (r1 - r2) * (c1 - c2) < 0
                               THEN 1 END), 0) AS BIGINT) AS discordant,
        CAST(COALESCE(SUM(CASE WHEN (r1 - r2) * (c1 - c2) = 0
                               THEN 1 END), 0) AS BIGINT) AS tied,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs)
    SELECT concordant, discordant, tied, n_pairs,
           CAST((concordant - discordant) * 10000
                // GREATEST(n_pairs, 1) AS BIGINT) AS tau_bp
    FROM cls
    """,
)
def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau between two nation rankings (revenue vs order count)
    — do two metrics order the world the same way? Computed directly
    from metric values: a pair is concordant when the sign of the
    revenue difference matches the sign of the count difference, so no
    rank assignment (and no tie-breaking policy) is needed; ties count
    in the denominator (tau-a). The pairwise cross runs over the
    NATION-grain dim (~25 rows -> ~300 pairs), never over orders — the
    fact-table work is one join + one group-by, the TPC-H Q5 shape."""
    nm = _nation_metrics(spark, sf_dir)
    x = nm.select(F.col("nation").alias("na"),
                  F.col("revenue_cents").alias("r1"),
                  F.col("n_orders").alias("c1"))
    y = nm.select(F.col("nation").alias("nb"),
                  F.col("revenue_cents").alias("r2"),
                  F.col("n_orders").alias("c2"))
    pairs = x.join(F.broadcast(y), F.col("na") < F.col("nb"))
    cls = pairs.agg(
        F.coalesce(F.sum(F.when(
            (F.col("r1") - F.col("r2")) * (F.col("c1") - F.col("c2"))
            > 0, 1)), F.lit(0)).cast("bigint").alias("concordant"),
        F.coalesce(F.sum(F.when(
            (F.col("r1") - F.col("r2")) * (F.col("c1") - F.col("c2"))
            < 0, 1)), F.lit(0)).cast("bigint").alias("discordant"),
        F.coalesce(F.sum(F.when(
            (F.col("r1") - F.col("r2")) * (F.col("c1") - F.col("c2"))
            == 0, 1)), F.lit(0)).cast("bigint").alias("tied"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return cls.select(
        "concordant", "discordant", "tied", "n_pairs",
        F.expr("(concordant - discordant) * 10000"
               " div GREATEST(n_pairs, 1)").cast("bigint")
        .alias("tau_bp"))


@query(
    "effective_sample_size",
    """
    WITH w AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS wt FROM documents),
    s AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(wt) AS BIGINT) AS sw,
             CAST(SUM(wt * wt) AS BIGINT) AS sww
      FROM w GROUP BY lang)
    SELECT lang, n, sw,
           CAST(sw * sw // GREATEST(sww, 1) AS BIGINT) AS ess,
           CAST(sw * sw // GREATEST(sww, 1) * 10000 // n AS BIGINT)
             AS ess_ratio_bp
    FROM s
    """,
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size per language — ESS = (Σw)²/Σw² tells
    you how many EQUAL documents your length-weighted sample is worth:
    a corpus where one mega-document carries half the weight has a
    tiny ESS however many rows it holds. The ratio against the raw
    count (10000 bp = perfectly balanced weights) is the skew alarm
    for sampling and mixture stages. One aggregate with map-side
    partials; all integer (the weight square sums stay under int64 at
    any realistic doc-length cap)."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sw"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint")
        .alias("sww"))
    return s.select(
        "lang", "n", "sw",
        F.expr("sw * sw div GREATEST(sww, 1)").cast("bigint")
        .alias("ess"),
        F.expr("sw * sw div GREATEST(sww, 1) * 10000 div n")
        .cast("bigint").alias("ess_ratio_bp"))


@query(
    "capture_recapture",
    """
    SELECT
      CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0)
           AS BIGINT) AS n1,
      CAST(COALESCE(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 END), 0)
           AS BIGINT) AS n2,
      CAST(COALESCE(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 END), 0)
           AS BIGINT) AS overlap,
      CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0)
           * COALESCE(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 END), 0)
           // GREATEST(COALESCE(SUM(CASE WHEN doc_id % 6 = 0
                                    THEN 1 END), 0), 1) AS BIGINT)
        AS lp_estimate,
      CAST((COALESCE(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0) + 1)
           * (COALESCE(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 END), 0)
              + 1)
           // (COALESCE(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 END), 0)
               + 1) - 1 AS BIGINT) AS chapman_estimate,
      CAST(COUNT(*) AS BIGINT) AS true_n
    FROM documents
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation — two independent crawl
    samples (the even-id crawl and the every-third-id crawl) and their
    overlap give the Lincoln-Petersen estimate n1·n2/m of the TOTAL
    segment size, plus the bias-corrected Chapman variant — how crawl
    teams answer 'how big is this host really?' without fetching it
    all. The deterministic id-residue samples make the truth exactly
    recoverable for verification. One conditional aggregate over one
    scan, map-side partials only."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    cells = docs.agg(
        F.coalesce(F.sum(F.when(k % 2 == 0, 1)), F.lit(0))
        .cast("bigint").alias("n1"),
        F.coalesce(F.sum(F.when(k % 3 == 0, 1)), F.lit(0))
        .cast("bigint").alias("n2"),
        F.coalesce(F.sum(F.when(k % 6 == 0, 1)), F.lit(0))
        .cast("bigint").alias("overlap"),
        F.count(F.lit(1)).cast("bigint").alias("true_n"))
    return cells.select(
        "n1", "n2", "overlap",
        F.expr("n1 * n2 div GREATEST(overlap, 1)").cast("bigint")
        .alias("lp_estimate"),
        F.expr("(n1 + 1) * (n2 + 1) div (overlap + 1) - 1")
        .cast("bigint").alias("chapman_estimate"),
        "true_n")


@query(
    "diff_in_diff",
    """
    WITH e AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END
               AS grp,
             CASE WHEN day(ts) <= 15 THEN 'pre' ELSE 'post' END
               AS period,
             CAST(ts AS DATE) AS day
      FROM events),
    cells AS (
      SELECT grp, period,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM e GROUP BY grp, period),
    r AS (
      SELECT grp, period,
             CAST(n_events * 10000 // GREATEST(n_days, 1) AS BIGINT)
               AS rate_bp
      FROM cells),
    p AS (
      SELECT
        MAX(CASE WHEN grp = 'treat' AND period = 'pre'
            THEN rate_bp END) AS tp0,
        MAX(CASE WHEN grp = 'treat' AND period = 'post'
            THEN rate_bp END) AS tp1,
        MAX(CASE WHEN grp = 'control' AND period = 'pre'
            THEN rate_bp END) AS cp0,
        MAX(CASE WHEN grp = 'control' AND period = 'post'
            THEN rate_bp END) AS cp1
      FROM r)
    SELECT CAST(tp0 AS BIGINT) AS treat_pre_bp,
           CAST(tp1 AS BIGINT) AS treat_post_bp,
           CAST(cp0 AS BIGINT) AS control_pre_bp,
           CAST(cp1 AS BIGINT) AS control_post_bp,
           CAST((tp1 - tp0) - (cp1 - cp0) AS BIGINT) AS did_bp
    FROM p
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the treated group's pre/post
    daily-rate change minus the control group's, the standard guard
    against 'the metric rose after launch' claims that ignore seasonal
    drift both groups share. Deterministic assignment (user-hash
    parity) and calendar split (day of month); rates in exact
    events-per-day basis points. One 4-cell conditional aggregate +
    a 1-row pivot."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.col("user_id") % 2 == 0, "treat").otherwise("control")
        .alias("grp"),
        F.when(F.dayofmonth("ts") <= 15, "pre").otherwise("post")
        .alias("period"),
        F.to_date("ts").alias("day"))
    cells = e.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("day").cast("bigint").alias("n_days"))
    r = cells.select(
        "grp", "period",
        F.expr("n_events * 10000 div GREATEST(n_days, 1)")
        .cast("bigint").alias("rate_bp"))
    p = r.agg(
        F.max(F.when((F.col("grp") == "treat")
                     & (F.col("period") == "pre"),
                     F.col("rate_bp"))).alias("tp0"),
        F.max(F.when((F.col("grp") == "treat")
                     & (F.col("period") == "post"),
                     F.col("rate_bp"))).alias("tp1"),
        F.max(F.when((F.col("grp") == "control")
                     & (F.col("period") == "pre"),
                     F.col("rate_bp"))).alias("cp0"),
        F.max(F.when((F.col("grp") == "control")
                     & (F.col("period") == "post"),
                     F.col("rate_bp"))).alias("cp1"))
    return p.select(
        F.col("tp0").cast("bigint").alias("treat_pre_bp"),
        F.col("tp1").cast("bigint").alias("treat_post_bp"),
        F.col("cp0").cast("bigint").alias("control_pre_bp"),
        F.col("cp1").cast("bigint").alias("control_post_bp"),
        ((F.col("tp1") - F.col("tp0")) - (F.col("cp1") - F.col("cp0")))
        .cast("bigint").alias("did_bp"))


@query(
    "peer_percentile",
    """
    WITH c AS (
      SELECT o_orderkey, o_orderpriority AS priority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    r AS (
      SELECT o_orderkey, priority, cents,
             ROW_NUMBER() OVER (PARTITION BY priority
               ORDER BY cents, o_orderkey) AS rk,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM c)
    SELECT o_orderkey, priority, cents,
           CAST((rk - 1) * 10000 // GREATEST(n - 1, 1) AS BIGINT)
             AS pct_bp
    FROM r
    """,
)
def q_peer_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile rank among peers — every order's standing
    within its priority class in basis points (0 = cheapest peer,
    10000 = priciest), the per-row normalization that makes amounts
    comparable across groups with different scales (feature
    engineering for fraud/quality models). Deterministic dense
    ordering via (value, key) tie-break; (rank-1)/(n-1) so both
    endpoints are exact. One priority-partitioned window — same
    shuffle the MAD screen already pays. rank widens to BIGINT before
    the x10^4 scaling: Spark's row_number is 32-bit and the product
    overflows at >214k rows per group (ANSI error caught by the
    sf1-equivalent sweep; DuckDB's ROW_NUMBER is 64-bit already)."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("cents"))
    wp = Window.partitionBy("priority")
    r = c.select(
        "o_orderkey", "priority", "cents",
        F.row_number().over(wp.orderBy("cents", "o_orderkey"))
        .alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"))
    return r.select(
        "o_orderkey", "priority", "cents",
        F.expr("CAST(rk - 1 AS BIGINT) * 10000 div GREATEST(n - 1, 1)")
        .cast("bigint").alias("pct_bp"))


@query(
    "linear_attribution",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS is_conv
      FROM events),
    g AS (
      SELECT user_id, ts, event_id, event_type, is_conv,
             COALESCE(SUM(is_conv) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + 1 AS grp
      FROM e),
    counts AS (
      SELECT user_id, grp,
             CAST(COALESCE(SUM(CASE WHEN is_conv = 0 THEN 1 END), 0)
                  AS BIGINT) AS k,
             CAST(MAX(is_conv) AS BIGINT) AS has_conv
      FROM g GROUP BY user_id, grp),
    credited AS (
      SELECT g.event_type,
             CASE WHEN c.has_conv = 1 AND g.is_conv = 0
                  THEN 10000 // c.k
                  WHEN c.has_conv = 1 AND g.is_conv = 1 AND c.k = 0
                  THEN 10000
                  ELSE 0 END AS credit
      FROM g JOIN counts c
        ON g.user_id = c.user_id AND g.grp = c.grp)
    SELECT event_type,
           CAST(SUM(credit) AS BIGINT) AS credit_bp,
           CAST(COALESCE(SUM(CASE WHEN credit > 0 THEN 1 END), 0)
                AS BIGINT) AS n_credited
    FROM credited GROUP BY event_type
    """,
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each conversion's 10000 bp of
    credit splits equally across the touchpoints since the PREVIOUS
    conversion (the running-sum group trick assigns every touch to its
    next conversion in one window pass); a conversion with no
    preceding touches keeps its credit as 'direct'. Credit totals per
    channel (event type) are what marketing-mix dashboards aggregate.
    Trailing touches after the last conversion earn nothing —
    has_conv gates them. One user-keyed window + one group-keyed
    join, shuffles on user only. Integer division floors per-touch
    credit, so totals under-count by at most k-1 bp per conversion —
    deterministic in both engines."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "ts", "event_id", "event_type",
        (F.col("event_id") % 11 == 0).cast("int").alias("is_conv"))
    prev = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    g = e.select(
        "user_id", "event_type", "is_conv",
        (F.coalesce(F.sum("is_conv").over(prev), F.lit(0)) + 1)
        .alias("grp"))
    counts = g.groupBy("user_id", "grp").agg(
        F.coalesce(F.sum(F.when(F.col("is_conv") == 0, 1)), F.lit(0))
        .cast("bigint").alias("k"),
        F.max("is_conv").cast("bigint").alias("has_conv"))
    credited = g.join(counts, ["user_id", "grp"]).select(
        "event_type",
        F.when((F.col("has_conv") == 1) & (F.col("is_conv") == 0),
               F.expr("10000 div k"))
        .when((F.col("has_conv") == 1) & (F.col("is_conv") == 1)
              & (F.col("k") == 0), F.lit(10000))
        .otherwise(F.lit(0)).alias("credit"))
    return credited.groupBy("event_type").agg(
        F.sum("credit").cast("bigint").alias("credit_bp"),
        F.coalesce(F.sum(F.when(F.col("credit") > 0, 1)), F.lit(0))
        .cast("bigint").alias("n_credited"))


@query(
    "cohens_kappa",
    f"""
    WITH lab AS (
      SELECT {case_sql('doc_id', _LABEL)} AS a,
             {case_sql('doc_id', _PREDICTED)} AS b
      FROM documents),
    conf AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY a, b),
    marg AS (
      SELECT
        CAST(SUM(n) AS BIGINT) AS total,
        CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT)
          AS agree
      FROM conf),
    rows_m AS (SELECT a AS cls, CAST(SUM(n) AS BIGINT) AS ra
               FROM conf GROUP BY a),
    cols_m AS (SELECT b AS cls, CAST(SUM(n) AS BIGINT) AS cb
               FROM conf GROUP BY b),
    chance AS (
      SELECT CAST(SUM(r.ra * c.cb) AS BIGINT) AS exp_num
      FROM rows_m r JOIN cols_m c ON r.cls = c.cls)
    SELECT m.total, m.agree,
           CAST(m.agree * 10000 // m.total AS BIGINT) AS po_bp,
           CAST(ch.exp_num * 10000 // (m.total * m.total) AS BIGINT)
             AS pe_bp,
           CAST((m.agree * 10000 // m.total
                 - ch.exp_num * 10000 // (m.total * m.total)) * 10000
                // GREATEST(10000 - ch.exp_num * 10000
                            // (m.total * m.total), 1) AS BIGINT)
             AS kappa_bp
    FROM marg m CROSS JOIN chance ch
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic labelers — observed
    agreement corrected for the agreement two independent annotators
    would reach by chance (the marginal-product expectation), the
    standard inter-annotator metric before trusting any labeled
    corpus. All in exact basis points: po and pe truncate identically
    in both engines, kappa = (po-pe)/(1-pe) in a second fixed-point
    step. One confusion-matrix scan; marginals and the chance term
    come from the TINY matrix, never a second pass."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    lab = docs.select(case_col(k, _LABEL).alias("a"),
                      case_col(k, _PREDICTED).alias("b"))
    conf = lab.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    marg = conf.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.coalesce(F.sum(F.when(F.col("a") == F.col("b"),
                                F.col("n"))), F.lit(0))
        .cast("bigint").alias("agree"))
    rows_m = conf.groupBy(F.col("a").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("ra"))
    cols_m = conf.groupBy(F.col("b").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("cb"))
    chance = rows_m.join(cols_m, "cls").agg(
        F.sum(F.col("ra") * F.col("cb")).cast("bigint")
        .alias("exp_num"))
    j = marg.crossJoin(F.broadcast(chance))
    return j.select(
        "total", "agree",
        F.expr("agree * 10000 div total").cast("bigint").alias("po_bp"),
        F.expr("exp_num * 10000 div (total * total)").cast("bigint")
        .alias("pe_bp"),
        F.expr("(agree * 10000 div total"
               " - exp_num * 10000 div (total * total)) * 10000"
               " div GREATEST(10000 - exp_num * 10000"
               " div (total * total), 1)")
        .cast("bigint").alias("kappa_bp"))


@query(
    "decision_stump",
    """
    WITH lab AS (
      SELECT CAST(n_chars AS BIGINT) AS f,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS pos
      FROM documents),
    agg AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS np
      FROM lab GROUP BY f),
    cum AS (
      SELECT f,
             SUM(cnt) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_l,
             SUM(np) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS p_l,
             SUM(cnt) OVER () AS n,
             SUM(np) OVER () AS p
      FROM agg),
    cand AS (
      SELECT f AS threshold, n_l, n - n_l AS n_r,
             2 * p_l * (n_l - p_l) * 10000 // n_l
             + 2 * (p - p_l) * ((n - n_l) - (p - p_l)) * 10000
               // (n - n_l) AS cost_bp
      FROM cum WHERE n_l < n),
    best AS (
      SELECT min({'c': cost_bp, 't': threshold}) AS b FROM cand)
    SELECT CAST((best.b).t AS BIGINT) AS threshold,
           CAST((best.b).c AS BIGINT) AS gini_cost_bp,
           CAST(c.n_l AS BIGINT) AS n_left,
           CAST(c.n_r AS BIGINT) AS n_right
    FROM best JOIN cand c ON c.threshold = (best.b).t
    """,
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training in one window pass — the best
    single-feature threshold split (feature <= t vs > t) by weighted
    Gini impurity, the building block of every tree ensemble. Distinct
    feature values aggregate first (class counts per value), one
    ordered window yields cumulative class counts at every candidate
    threshold simultaneously, and the weighted impurity 2·p·q/n per
    side lands in fixed-point bp (identical truncation both engines);
    the argmin is a struct-MIN with threshold tie-break. At 10^12 rows
    the same plan holds: the window runs over DISTINCT FEATURE VALUES
    (histogram grain), not documents."""
    docs = _t(spark, sf_dir, "documents")
    lab = docs.select(
        F.col("n_chars").cast("bigint").alias("f"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("pos"))
    agg = lab.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.coalesce(F.sum("pos"), F.lit(0)).cast("bigint").alias("np"))
    run = (Window.orderBy("f")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    full = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = agg.select(
        "f",
        F.sum("cnt").over(run).alias("n_l"),
        F.sum("np").over(run).alias("p_l"),
        F.sum("cnt").over(full).alias("n"),
        F.sum("np").over(full).alias("p"))
    cand = cum.filter(F.col("n_l") < F.col("n")).select(
        F.col("f").alias("threshold"), "n_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        F.expr("2 * p_l * (n_l - p_l) * 10000 div n_l"
               " + 2 * (p - p_l) * ((n - n_l) - (p - p_l)) * 10000"
               " div (n - n_l)").alias("cost_bp"))
    best = cand.agg(F.min(F.struct(
        F.col("cost_bp").alias("c"),
        F.col("threshold").alias("t"))).alias("b"))
    joined = cand.join(
        F.broadcast(best),
        cand.threshold == F.col("b.t"))
    return joined.select(
        F.col("b.t").cast("bigint").alias("threshold"),
        F.col("b.c").cast("bigint").alias("gini_cost_bp"),
        F.col("n_l").cast("bigint").alias("n_left"),
        F.col("n_r").cast("bigint").alias("n_right"))


@query(
    "independence_chi2",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY lang, source),
    rm AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o
           GROUP BY lang),
    cm AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o
           GROUP BY source),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
    SELECT o.lang, o.source, o.obs,
           CAST(rm.r * cm.c * 10000 // t.n AS BIGINT) AS exp_x10000,
           CAST(CAST(o.obs * t.n - rm.r * cm.c AS HUGEINT)
                * (o.obs * t.n - rm.r * cm.c) * 10000
                // (CAST(t.n AS HUGEINT) * rm.r * cm.c) AS BIGINT)
             AS chi2_contrib_x10000
    FROM o JOIN rm ON o.lang = rm.lang
    JOIN cm ON o.source = cm.source
    CROSS JOIN t
    """,
)
def q_independence_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for language x source — is the
    corpus's language mix the same across sources, or does a feed skew
    (the sampling-bias audit run before per-source quotas are
    trusted)? Each cell reports its observed count, expected count
    (x10000 fixed point), and exact-integer chi-square contribution —
    (o·n − r·c)² / (n·r·c), widened to 128 bits because the cross
    term squares past int64 at sf1. One (lang, source) aggregate;
    margins are tiny broadcast joins back onto the cell grid."""
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs"))
    rm = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    cm = o.groupBy("source").agg(
        F.sum("obs").cast("bigint").alias("c"))
    t = o.agg(F.sum("obs").cast("bigint").alias("n"))
    j = (o.join(F.broadcast(rm), "lang")
         .join(F.broadcast(cm), "source")
         .crossJoin(F.broadcast(t)))
    return j.select(
        "lang", "source", "obs",
        F.expr("r * c * 10000 div n").cast("bigint")
        .alias("exp_x10000"),
        F.expr("CAST(obs * n - r * c AS DECIMAL(38,0))"
               " * (obs * n - r * c) * 10000"
               " div (CAST(n AS DECIMAL(38,0)) * r * c)")
        .cast("bigint").alias("chi2_contrib_x10000"))


@query(
    "simpsons_paradox",
    """
    WITH lab AS (
      SELECT o_orderkey % 2 AS variant,
             CASE WHEN ((o_orderkey // 2) % 10)
                  < CASE WHEN o_orderkey % 2 = 0 THEN 8 ELSE 2 END
             THEN 'hi' ELSE 'lo' END AS seg,
             CASE WHEN (o_orderkey % 10)
                  < CASE WHEN o_orderkey % 2 = 0 THEN
                      CASE WHEN ((o_orderkey // 2) % 10) < 8
                           THEN 8 ELSE 2 END
                    ELSE
                      CASE WHEN ((o_orderkey // 2) % 10) < 2
                           THEN 9 ELSE 3 END
                    END
             THEN 1 ELSE 0 END AS success
      FROM orders),
    cells AS (
      SELECT variant, seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(success), 0) AS BIGINT) AS s
      FROM lab GROUP BY variant, seg),
    p AS (
      SELECT
        MAX(CASE WHEN variant = 0 AND seg = 'hi'
            THEN s * 10000 // n END) AS v0_hi,
        MAX(CASE WHEN variant = 1 AND seg = 'hi'
            THEN s * 10000 // n END) AS v1_hi,
        MAX(CASE WHEN variant = 0 AND seg = 'lo'
            THEN s * 10000 // n END) AS v0_lo,
        MAX(CASE WHEN variant = 1 AND seg = 'lo'
            THEN s * 10000 // n END) AS v1_lo,
        CAST(COALESCE(SUM(CASE WHEN variant = 0 THEN s END), 0)
             * 10000 // SUM(CASE WHEN variant = 0 THEN n END)
             AS BIGINT) AS v0_pooled,
        CAST(COALESCE(SUM(CASE WHEN variant = 1 THEN s END), 0)
             * 10000 // SUM(CASE WHEN variant = 1 THEN n END)
             AS BIGINT) AS v1_pooled
      FROM cells)
    SELECT CAST(v0_hi AS BIGINT) AS v0_hi_bp,
           CAST(v1_hi AS BIGINT) AS v1_hi_bp,
           CAST(v0_lo AS BIGINT) AS v0_lo_bp,
           CAST(v1_lo AS BIGINT) AS v1_lo_bp,
           v0_pooled AS v0_pooled_bp, v1_pooled AS v1_pooled_bp,
           CAST(CASE WHEN v1_hi > v0_hi AND v1_lo > v0_lo
                      AND v1_pooled < v0_pooled
                THEN 1 ELSE 0 END AS INT) AS reversed
    FROM p
    """,
)
def q_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit — a variant that wins INSIDE every
    segment but loses pooled, because segment mix correlates with
    assignment (variant 0 concentrates in the high-base-rate segment).
    The construction plants exactly that: within-segment success
    thresholds favor variant 1 (9>8, 3>2) while variant 0 gets 80%
    'hi' mix vs 20%. Any experiment dashboard needs this check before
    reporting pooled rates; the reversed flag is the alarm. One
    4-cell conditional aggregate + a 1-row pivot, all exact bp."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    variant = (k % 2).alias("variant")
    mix = (k / 2).cast("bigint") % 10
    seg = F.when(
        mix < F.when(k % 2 == 0, 8).otherwise(2), "hi").otherwise("lo")
    thr = (F.when(k % 2 == 0,
                  F.when(mix < 8, 8).otherwise(2))
           .otherwise(F.when(mix < 2, 9).otherwise(3)))
    lab = orders.select(
        variant, seg.alias("seg"),
        ((k % 10) < thr).cast("int").alias("success"))
    cells = lab.groupBy("variant", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("success"), F.lit(0)).cast("bigint")
        .alias("s"))
    p = cells.agg(
        F.max(F.when((F.col("variant") == 0) & (F.col("seg") == "hi"),
                     F.expr("s * 10000 div n"))).alias("v0_hi"),
        F.max(F.when((F.col("variant") == 1) & (F.col("seg") == "hi"),
                     F.expr("s * 10000 div n"))).alias("v1_hi"),
        F.max(F.when((F.col("variant") == 0) & (F.col("seg") == "lo"),
                     F.expr("s * 10000 div n"))).alias("v0_lo"),
        F.max(F.when((F.col("variant") == 1) & (F.col("seg") == "lo"),
                     F.expr("s * 10000 div n"))).alias("v1_lo"),
        F.expr("COALESCE(SUM(CASE WHEN variant = 0 THEN s END), 0)"
               " * 10000 div SUM(CASE WHEN variant = 0 THEN n END)")
        .cast("bigint").alias("v0_pooled"),
        F.expr("COALESCE(SUM(CASE WHEN variant = 1 THEN s END), 0)"
               " * 10000 div SUM(CASE WHEN variant = 1 THEN n END)")
        .cast("bigint").alias("v1_pooled"))
    return p.select(
        F.col("v0_hi").cast("bigint").alias("v0_hi_bp"),
        F.col("v1_hi").cast("bigint").alias("v1_hi_bp"),
        F.col("v0_lo").cast("bigint").alias("v0_lo_bp"),
        F.col("v1_lo").cast("bigint").alias("v1_lo_bp"),
        F.col("v0_pooled").alias("v0_pooled_bp"),
        F.col("v1_pooled").alias("v1_pooled_bp"),
        ((F.col("v1_hi") > F.col("v0_hi"))
         & (F.col("v1_lo") > F.col("v0_lo"))
         & (F.col("v1_pooled") < F.col("v0_pooled"))).cast("int")
        .alias("reversed"))


@query(
    "gains_curve",
    """
    WITH scored AS (
      SELECT doc_id,
             (doc_id * 2654435761) % 1000 AS score,
             CASE WHEN (doc_id * 2654435761) % 1000 >= 800
                    OR doc_id % 37 = 0
             THEN 1 ELSE 0 END AS pos
      FROM documents),
    deciled AS (
      SELECT score, pos,
             NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored),
    agg AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos
      FROM deciled GROUP BY decile),
    cum AS (
      SELECT decile, n, n_pos,
             SUM(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos,
             SUM(n_pos) OVER () AS total_pos,
             SUM(n) OVER () AS total
      FROM agg)
    SELECT decile, n, n_pos,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(cum_pos * 10000 // GREATEST(total_pos, 1) AS BIGINT)
             AS cum_share_bp,
           CAST(n_pos * total * 100
                // GREATEST(n * total_pos, 1) AS BIGINT) AS lift_x100
    FROM cum
    """,
)
def q_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table by score decile — the model-eval readout next
    to AUC: rank by score, cut into ten equal bins (deterministic
    NTILE tie-break by id), and report each decile's positive count,
    the cumulative share of all positives captured, and the lift over
    base rate (x100 fixed point). The planted score-label correlation
    (high scores mostly positive plus a noise residue) makes the
    curve properly decreasing. One window pass over the scored rows +
    a 10-row cumulative window."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    scored = docs.select(
        k.alias("doc_id"),
        ((k * 2654435761) % 1000).alias("score"),
        ((((k * 2654435761) % 1000) >= 800) | (k % 37 == 0))
        .cast("int").alias("pos"))
    deciled = scored.select(
        "score", "pos",
        F.ntile(10).over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("decile"))
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("pos"), F.lit(0)).cast("bigint")
        .alias("n_pos"))
    wcum = (Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = agg.select(
        "decile", "n", "n_pos",
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n_pos").over(wall).alias("total_pos"),
        F.sum("n").over(wall).alias("total"))
    return cum.select(
        "decile", "n", "n_pos",
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        F.expr("cum_pos * 10000 div GREATEST(total_pos, 1)")
        .cast("bigint").alias("cum_share_bp"),
        F.expr("n_pos * total * 100 div GREATEST(n * total_pos, 1)")
        .cast("bigint").alias("lift_x100"))


@query(
    "spearman_rank",
    f"""
    WITH {_NATION_METRICS_CTE},
    ranked AS (
      SELECT nation,
             ROW_NUMBER() OVER (ORDER BY revenue_cents DESC, nation)
               AS r_rev,
             ROW_NUMBER() OVER (ORDER BY n_orders DESC, nation)
               AS r_cnt
      FROM nm),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((r_rev - r_cnt) * (r_rev - r_cnt)) AS BIGINT)
               AS sum_d2
      FROM ranked)
    SELECT n AS n_nations, sum_d2,
           CAST(CASE WHEN n >= 2
                THEN 10000 - (60000 * sum_d2) // (n * (n * n - 1))
                ELSE 0 END AS BIGINT) AS spearman_bp
    FROM s
    """,
)
def q_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between the revenue and order-count rankings of
    nations, the rank-space companion to Kendall tau
    (``rank_correlation``): ranks are assigned by ROW_NUMBER with the
    nation key as the deterministic tie-break (documented deviation from
    the average-rank tie convention, chosen so both engines produce
    identical integer ranks), then rho = 1 − 6Σd²/(n(n²−1)) carried in
    exact basis points with one truncating division. Fact-table work is
    the one Q5-shaped join+agg; the rank windows run on the ~25-row
    nation grain."""
    nm = _nation_metrics(spark, sf_dir)
    ranked = nm.select(
        "nation",
        F.row_number().over(
            Window.orderBy(F.col("revenue_cents").desc(), "nation"))
        .alias("r_rev"),
        F.row_number().over(
            Window.orderBy(F.col("n_orders").desc(), "nation"))
        .alias("r_cnt"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("r_rev") - F.col("r_cnt"))
              * (F.col("r_rev") - F.col("r_cnt"))).cast("bigint")
        .alias("sum_d2"))
    return s.select(
        F.col("n").alias("n_nations"), "sum_d2",
        F.expr("CASE WHEN n >= 2 THEN 10000 - (60000 * sum_d2)"
               " div (n * (n * n - 1)) ELSE 0 END").cast("bigint")
        .alias("spearman_bp"))


@query(
    "kmv_distinct",
    """
    WITH hu AS (
      SELECT DISTINCT
        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events),
    bot AS (SELECT h FROM hu ORDER BY h LIMIT 256),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(h) AS BIGINT) AS kth_hash FROM bot),
    per AS (
      SELECT h,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM (SELECT DISTINCT event_type AS g,
              ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                AS h
            FROM events)),
    mu AS (SELECT DISTINCT h FROM per WHERE rn <= 256),
    mbot AS (SELECT h FROM mu ORDER BY h LIMIT 256),
    magg AS (SELECT CAST(COUNT(*) AS BIGINT) AS mn,
                    CAST(MAX(h) AS BIGINT) AS mkth FROM mbot),
    ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
             AS exact_distinct FROM events)
    SELECT CAST(256 AS BIGINT) AS k, n_kept, kth_hash,
           CAST(CASE WHEN n_kept < 256 THEN n_kept
                ELSE 255 * 4294967296 // kth_hash END AS BIGINT)
             AS est_distinct,
           CAST(CASE WHEN mn < 256 THEN mn
                ELSE 255 * 4294967296 // mkth END AS BIGINT)
             AS est_merged,
           exact_distinct
    FROM agg CROSS JOIN magg CROSS JOIN ex
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct sketch over event users — the third
    mergeable sketch beside HLL (cardinality) and CMS (frequency): keep
    the 256 smallest md5-derived hashes, estimate (k−1)·2³²/h_k, and
    demonstrate the merge property by re-bottoming the union of
    per-event-type sketches (est_merged == est_distinct by
    construction). Bottom-k is a distributed TakeOrdered, never a
    global sort."""
    from ocr_spark.functions.curation import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "events"), "user_id", k=256)


@query(
    "kmv_set_ops",
    """
    WITH tc AS (SELECT event_type, COUNT(*) AS c FROM events
                GROUP BY event_type),
    r AS (SELECT event_type,
                 ROW_NUMBER() OVER (ORDER BY c DESC, event_type) AS rn
          FROM tc),
    ta AS (SELECT event_type FROM r WHERE rn = 1),
    tb AS (SELECT event_type FROM r WHERE rn = 2),
    ha AS (SELECT DISTINCT
             ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
           FROM events e JOIN ta ON e.event_type = ta.event_type),
    hb AS (SELECT DISTINCT
             ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
           FROM events e JOIN tb ON e.event_type = tb.event_type),
    hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
    ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT)
             AS kth FROM (SELECT h FROM ha ORDER BY h LIMIT 128)),
    bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT)
             AS kth FROM (SELECT h FROM hb ORDER BY h LIMIT 128)),
    bu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT)
             AS kth FROM (SELECT h FROM hu ORDER BY h LIMIT 128)),
    ests AS (
      SELECT
        CASE WHEN ba.n < 128 THEN ba.n
             ELSE 127 * 4294967296 // ba.kth END AS est_a,
        CASE WHEN bb.n < 128 THEN bb.n
             ELSE 127 * 4294967296 // bb.kth END AS est_b,
        CASE WHEN bu.n < 128 THEN bu.n
             ELSE 127 * 4294967296 // bu.kth END AS est_union
      FROM ba CROSS JOIN bb CROSS JOIN bu),
    uset AS (SELECT DISTINCT e.user_id FROM events e
             JOIN ta ON e.event_type = ta.event_type),
    vset AS (SELECT DISTINCT e.user_id FROM events e
             JOIN tb ON e.event_type = tb.event_type),
    ex AS (
      SELECT CAST((SELECT COUNT(*) FROM uset JOIN vset USING (user_id))
               AS BIGINT) AS exact_inter,
             CAST((SELECT COUNT(*) FROM
                    (SELECT user_id FROM uset
                     UNION SELECT user_id FROM vset)) AS BIGINT)
               AS exact_union)
    SELECT ta.event_type AS type_a, tb.event_type AS type_b,
           CAST(est_a AS BIGINT) AS est_a,
           CAST(est_b AS BIGINT) AS est_b,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(GREATEST(est_a + est_b - est_union, 0) AS BIGINT)
             AS est_inter,
           ex.exact_union, ex.exact_inter
    FROM ests CROSS JOIN ta CROSS JOIN tb CROSS JOIN ex
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra over the user sets of the two largest
    event types: union cardinality from the re-bottomed merged sketch,
    intersection by inclusion–exclusion (clamped at 0), both beside the
    exact join answers — the audience-overlap estimator that works
    across shards without ever co-locating the raw id sets (ship 128
    hashes per side, not millions of users). Bottom-k via distributed
    TakeOrdered; the exact columns are the error report you drop at
    production scale."""
    ev = _t(spark, sf_dir, "events")
    tc = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    r = tc.select("event_type", F.row_number().over(
        Window.orderBy(F.col("c").desc(), "event_type")).alias("rn"))
    ta = r.filter(F.col("rn") == 1).select(
        F.col("event_type").alias("type_a"))
    tb = r.filter(F.col("rn") == 2).select(
        F.col("event_type").alias("type_b"))
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("bigint").alias("h")

    def _hashes(tdf, tcol):
        return (ev.join(F.broadcast(tdf),
                        ev["event_type"] == F.col(tcol))
                .select(h).distinct())

    ha = _hashes(ta, "type_a")
    hb = _hashes(tb, "type_b")
    hu = ha.unionByName(hb).distinct()

    def _bottom(hs, pfx):
        return (hs.orderBy("h").limit(128)
                .agg(F.count(F.lit(1)).cast("bigint").alias(f"{pfx}_n"),
                     F.max("h").cast("bigint").alias(f"{pfx}_kth")))

    def _est(pfx):
        return (f"CASE WHEN {pfx}_n < 128 THEN {pfx}_n"
                f" ELSE 127 * 4294967296 div {pfx}_kth END")

    us = (ev.join(F.broadcast(ta), ev["event_type"] == F.col("type_a"))
          .select("user_id").distinct())
    vs = (ev.join(F.broadcast(tb), ev["event_type"] == F.col("type_b"))
          .select("user_id").distinct())
    exact_inter = us.join(vs, "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    exact_union = us.unionByName(vs).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_union"))
    out = (_bottom(ha, "a")
           .crossJoin(F.broadcast(_bottom(hb, "b")))
           .crossJoin(F.broadcast(_bottom(hu, "u")))
           .crossJoin(F.broadcast(ta))
           .crossJoin(F.broadcast(tb))
           .crossJoin(F.broadcast(exact_union))
           .crossJoin(F.broadcast(exact_inter)))
    return out.select(
        "type_a", "type_b",
        F.expr(_est("a")).cast("bigint").alias("est_a"),
        F.expr(_est("b")).cast("bigint").alias("est_b"),
        F.expr(_est("u")).cast("bigint").alias("est_union"),
        F.expr(f"GREATEST(({_est('a')}) + ({_est('b')})"
               f" - ({_est('u')}), 0)").cast("bigint").alias("est_inter"),
        "exact_union", "exact_inter")


@query(
    "average_precision",
    """
    WITH scored AS (
      SELECT doc_id AS doc,
             CAST((doc_id * 37 + 11) % 100 AS BIGINT)
               + CASE WHEN doc_id % 3 = 0 THEN 60 ELSE 0 END AS score,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
               AS y
      FROM documents),
    ranked AS (
      SELECT doc, score, y,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rk,
             SUM(y) OVER (ORDER BY score DESC, doc
                          ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM scored),
    np AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos FROM scored)
    SELECT np.n_pos,
           CAST((SELECT COUNT(*) FROM scored) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN y = 1
                    THEN cum_pos * 1000000 // rk ELSE 0 END)
                // np.n_pos AS BIGINT) AS ap_micro
    FROM ranked CROSS JOIN np
    GROUP BY np.n_pos
    """,
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve area as rankers actually compute
    it: mean of precision@rank over the positive rows) for a
    deterministic synthetic scorer against the doc_id%3 label —
    companion to the ROC-AUC (quality_auc) on the metric where class
    imbalance actually bites. Exact integers throughout: the ranking is
    totally ordered (score, doc), precision@k is one truncating
    division per positive in micro-units, the mean one more. One
    global-ordering window — at corpus scale, the same two-stage
    shard-then-merge top-k the repo's other global ranks document."""
    docs = _cpu(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id").alias("doc"),
        ((F.col("doc_id") * 37 + 11) % 100
         + F.when(F.col("doc_id") % 3 == 0, 60).otherwise(0))
        .cast("bigint").alias("score"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"))
    w = Window.orderBy(F.col("score").desc(), "doc")
    ranked = scored.select(
        "doc", "score", "y",
        F.row_number().over(w).alias("rk"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_pos"))
    np_ = scored.agg(F.sum("y").cast("bigint").alias("n_pos"),
                     F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (ranked.crossJoin(F.broadcast(np_))
            .groupBy("n_pos", "n_total")
            .agg(F.expr("SUM(CASE WHEN y = 1 THEN cum_pos * 1000000"
                        " div rk ELSE 0 END) div n_pos").cast("bigint")
                 .alias("ap_micro"))
            .select("n_pos", "n_total", "ap_micro"))


@query(
    "length_histogram_overlap",
    """
    WITH b AS (
      SELECT source, LEAST(n_chars // 100, 19) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, LEAST(n_chars // 100, 19)),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM b
            GROUP BY source),
    pairs AS (
      SELECT x.source AS source_a, y.source AS source_b,
             x.bucket,
             x.c AS ca, y.c AS cb, tx.n AS na, ty.n AS nb
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.source < y.source
      JOIN tot tx ON tx.source = x.source
      JOIN tot ty ON ty.source = y.source)
    SELECT source_a, source_b,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM(LEAST(ca * nb, cb * na)) * 10000
                // (MAX(na) * MAX(nb)) AS BIGINT) AS overlap_bp
    FROM pairs GROUP BY source_a, source_b
    """,
)
def q_length_histogram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-intersection similarity between sources'
    document-length distributions (Σ min(p_i, q_i), the L1 complement
    of total-variation distance) in exact bp — min over
    cross-multiplied integer counts, one division per pair, so no
    float shares anywhere. The drift metric that says WHERE two feeds
    differ in shape, complementing ks_drift's max-gap view; overlap
    collapsing after an ingestion change is the classic truncation/
    boilerplate regression signal. Bucket-grain join over (source,
    20-bucket) cells — never row-level."""
    docs = _t(spark, sf_dir, "documents")
    b = (docs.select("source",
                     F.expr("LEAST(n_chars div 100, 19)")
                     .cast("bigint").alias("bucket"))
         .groupBy("source", "bucket")
         .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = b.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    x = (b.join(tot, "source")
         .select(F.col("source").alias("source_a"), "bucket",
                 F.col("c").alias("ca"), F.col("n").alias("na")))
    y = (b.join(tot, "source")
         .select(F.col("source").alias("source_b"), "bucket",
                 F.col("c").alias("cb"), F.col("n").alias("nb")))
    pairs = x.join(y, ["bucket"]).filter(
        F.col("source_a") < F.col("source_b"))
    return (pairs.groupBy("source_a", "source_b")
            .agg(F.max("na").cast("bigint").alias("n_a"),
                 F.max("nb").cast("bigint").alias("n_b"),
                 F.expr("SUM(LEAST(ca * nb, cb * na)) * 10000"
                        " div (MAX(na) * MAX(nb))").cast("bigint")
                 .alias("overlap_bp")))


@query(
    "weighted_median",
    """
    WITH rows_ AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem),
    cum AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag
                          ORDER BY cents, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM rows_),
    tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS tw FROM rows_
            GROUP BY flag),
    crossers AS (
      SELECT cum.flag, cum.cents, cum.cw
      FROM cum JOIN tot ON tot.flag = cum.flag
      WHERE 2 * cum.cw >= tot.tw),
    pick AS (
      SELECT flag, MIN(cw) AS mcw FROM crossers GROUP BY flag)
    SELECT c.flag AS l_returnflag, t.tw AS total_weight,
           CAST(MIN(c.cents) AS BIGINT) AS weighted_median_cents
    FROM crossers c
    JOIN pick p ON p.flag = c.flag AND c.cw = p.mcw
    JOIN tot t ON t.flag = c.flag
    GROUP BY c.flag, t.tw
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag — the
    robust center a plain median gets wrong when one line carries 50
    units and another 1: the first value whose cumulative weight
    reaches half the total, on a TOTALLY ordered cumulative (price,
    orderkey, linenumber) so both engines cross at the identical row.
    One flag-keyed window + two flag-grain joins; all integer cents
    and weights, no interpolation anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey", "l_linenumber")
    w = (Window.partitionBy("flag")
         .orderBy("cents", "l_orderkey", "l_linenumber")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = rows_.select("flag", "cents", "w",
                       F.sum("w").over(w).alias("cw"))
    tot = rows_.groupBy("flag").agg(
        F.sum("w").cast("bigint").alias("tw"))
    crossers = (cum.join(tot, "flag")
                .filter(2 * F.col("cw") >= F.col("tw")))
    pick = crossers.groupBy("flag").agg(F.min("cw").alias("mcw"))
    return (crossers.join(pick, "flag")
            .filter(F.col("cw") == F.col("mcw"))
            .groupBy("flag", "tw")
            .agg(F.min("cents").cast("bigint")
                 .alias("weighted_median_cents"))
            .select(F.col("flag").alias("l_returnflag"),
                    F.col("tw").alias("total_weight"),
                    "weighted_median_cents"))


@query(
    "survival_life_table",
    """
    WITH od AS (
      SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d
      FROM orders),
    mx AS (SELECT MAX(d) AS dmax FROM od),
    seq AS (
      SELECT c, d,
             LEAD(d) OVER (PARTITION BY c ORDER BY d) AS nxt
      FROM (SELECT DISTINCT c, d FROM od)),
    spans AS (
      SELECT c,
             CAST(CASE WHEN nxt IS NOT NULL THEN nxt - d
                  ELSE mx.dmax - d END AS BIGINT) AS t,
             CAST(CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS event
      FROM seq CROSS JOIN mx),
    grid AS (
      SELECT t,
             CAST(SUM(event) AS BIGINT) AS d_t,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM spans WHERE t > 0 GROUP BY t),
    risk AS (
      SELECT t, d_t,
             CAST(SUM(leaving) OVER (ORDER BY t DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM grid),
    terms AS (
      SELECT t, d_t, n_risk,
             CASE WHEN d_t > 0 AND d_t < n_risk THEN
               CAST(ROUND(ln(CAST(n_risk - d_t AS DOUBLE) / n_risk)
                    * 1000000) AS BIGINT)
             WHEN d_t >= n_risk THEN NULL
             ELSE 0 END AS term
      FROM risk),
    acc AS (
      SELECT t, d_t, n_risk,
             CAST(SUM(term) OVER (ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln_s_micro
      FROM terms WHERE term IS NOT NULL)
    SELECT t AS gap_days, n_risk, d_t AS n_events, ln_s_micro
    FROM acc WHERE d_t > 0
    """,
)
def q_survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier life table of customer inter-order gaps with
    right-censoring (a customer's open-ended wait since their last
    order is censored at the corpus horizon, NOT counted as an event —
    the mistake naive churn math makes): per observed gap length, the
    at-risk count (suffix sum over the gap grid), events, and the
    cumulative log-survival Σ ln((n−d)/n) in exact integer micro-nats
    (one ln per DISTINCT ratio, cumulative sum integer and order-free;
    S(t) = exp(ln_s_micro/1e6) is one driver-side exp away). The rare
    grid point absorbing ALL remaining risk (ln 0) is excluded rather
    than fabricated. Fact work is one customer-keyed window; the life
    table lives on the gap-length grain."""
    orders = _t(spark, sf_dir, "orders")
    od = orders.select(F.col("o_custkey").alias("c"),
                       F.col("o_orderdate").cast("date").alias("d")) \
        .distinct()
    mx = od.agg(F.max("d").alias("dmax"))
    seq = od.select(
        "c", "d",
        F.lead("d").over(Window.partitionBy("c").orderBy("d"))
        .alias("nxt"))
    spans = (seq.crossJoin(F.broadcast(mx))
             .select(
                 F.when(F.col("nxt").isNotNull(),
                        F.datediff("nxt", "d"))
                 .otherwise(F.datediff("dmax", "d")).cast("bigint")
                 .alias("t"),
                 F.col("nxt").isNotNull().cast("int").alias("event")))
    grid = (spans.filter(F.col("t") > 0)
            .groupBy("t")
            .agg(F.sum("event").cast("bigint").alias("d_t"),
                 F.count(F.lit(1)).cast("bigint").alias("leaving")))
    risk = grid.select(
        "t", "d_t",
        F.sum("leaving").over(
            Window.orderBy(F.col("t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint")
        .alias("n_risk"))
    terms = risk.select(
        "t", "d_t", "n_risk",
        F.expr("CASE WHEN d_t > 0 AND d_t < n_risk THEN"
               " CAST(ROUND(ln(CAST(n_risk - d_t AS DOUBLE) / n_risk)"
               " * 1000000) AS BIGINT)"
               " WHEN d_t >= n_risk THEN NULL ELSE 0 END")
        .alias("term"))
    acc = (terms.filter(F.col("term").isNotNull())
           .select("t", "d_t", "n_risk",
                   F.sum("term").over(
                       Window.orderBy("t")
                       .rowsBetween(Window.unboundedPreceding, 0))
                   .cast("bigint").alias("ln_s_micro")))
    return (acc.filter(F.col("d_t") > 0)
            .select(F.col("t").alias("gap_days"), "n_risk",
                    F.col("d_t").alias("n_events"), "ln_s_micro"))
