"""Deduplication over ``documents``: exact, MinHash + LSH, SimHash, n-gram
Jaccard, winnowing, containment, edit-distance verification, paragraph and
soft dedup, blocking and entity resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.functions.dedup import (
    DEFAULT_MAX_BUCKET,
    exact_dedup,
    lsh_candidate_pairs,
    lsh_jaccard_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from ocr_spark.queries.registry import _cpu, _docs, _docs_sql, _t, query
from ocr_spark.queries.text import _MULTILINE_SQL, _multiline_docs


def _shingle_sql(src: str = "documents") -> str:
    return f"""
    SELECT doc_id AS doc,
           CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3 THEN
             list_distinct(list_transform(
               generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
               i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                    string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                    string_split_regex(trim(text), '\\s+')[i+2]))
           ELSE CAST([] AS VARCHAR[]) END AS shingles
    FROM {src}
"""


_SHINGLE_SQL = _shingle_sql()


@query(
    "exact_dedup",
    """
    SELECT sha256(text) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS dup_count,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY sha256(text)
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on the content hash, never on the text."""
    return exact_dedup(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "minhash_band_signatures",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    b AS (SELECT doc, shingles, unnest(range(0, 4)) AS band FROM sh)
    SELECT doc, CAST(band AS BIGINT) AS band,
           list_aggregate(list_transform(shingles, s -> md5(band || '|' || s)), 'min') AS signature
    FROM b WHERE len(shingles) > 0
    """,
)
def q_minhash_band_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash per (doc, band): md5-based, portable bit-for-bit."""
    sig = minhash_signatures(_cpu(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4)
    return sig.select("doc", F.col("band").cast("bigint").alias("band"), "signature")


def _lsh_pairs_sql(src: str = "documents") -> str:
    return f"""
    WITH sh AS ({_shingle_sql(src)}),
    b AS (SELECT doc, shingles, unnest(range(0, 4)) AS band FROM sh),
    sigs AS (
      SELECT doc, band,
             list_aggregate(list_transform(shingles, s -> md5(band || '|' || s)), 'min') AS signature
      FROM b WHERE len(shingles) > 0),
    bs AS (SELECT band, signature FROM sigs GROUP BY band, signature
           HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
    capped AS (SELECT s.* FROM sigs s JOIN bs USING (band, signature))
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.signature = b.signature AND a.doc < b.doc
"""


_LSH_PAIRS_SQL = _lsh_pairs_sql()


def _lsh_jaccard_sql(src: str = "documents", threshold: float | None = None) -> str:
    thr = "" if threshold is None else (
        f"\n    WHERE jaccard >= CAST({threshold!r} AS DOUBLE)")
    return f"""
    SELECT * FROM (
    WITH pairs AS ({_lsh_pairs_sql(src)}),
    hs AS (
      SELECT s.doc, list_transform(s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS sh
      FROM ({_shingle_sql(src)}) s)
    SELECT p.doc_a, p.doc_b,
           ROUND(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                 THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(a.sh || b.sh))
                 ELSE 0.0 END, 9) AS jaccard
    FROM pairs p JOIN hs a ON a.doc = p.doc_a JOIN hs b ON b.doc = p.doc_b
    ){thr}
"""


@query("lsh_candidate_pairs", _LSH_PAIRS_SQL)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: near-dup candidates shuffle only on (band, signature);
    boilerplate-degenerate buckets above the cap are dropped (exact_dedup's
    job) in BOTH engines."""
    return lsh_candidate_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4)


@query("lsh_jaccard_pairs", _lsh_jaccard_sql())
def q_lsh_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ONLY on LSH candidates — the composed corpus-scale
    near-dup plan (banding prunes; the quadratic comparison never runs
    within a low-cardinality block)."""
    return lsh_jaccard_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4)


_DEDUP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id,
           text || ' near duplicate trailing banner words' AS text
    FROM documents WHERE doc_id % 11 = 0
"""


def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DEDUP_CORPUS_SQL``: documents plus exact copies
    (doc_id+100000) and near-copies with a trailing banner (doc_id+200000)."""
    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    copies = docs.filter(k % 7 == 0).select((k + 100000).alias("doc_id"), "text")
    nears = docs.filter(k % 11 == 0).select(
        (k + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate trailing banner words")).alias("text"),
    )
    return docs.unionByName(copies).unionByName(nears)


@query(
    "dedup_decide",
    f"""
    WITH corpus AS ({_DEDUP_CORPUS_SQL}),
    ex AS (
      SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id
      FROM corpus GROUP BY sha256(text)),
    docs AS (
      SELECT c.doc_id, c.text, e.keep_id
      FROM corpus c JOIN ex e ON sha256(c.text) = e.content_hash),
    reps AS (SELECT doc_id, text FROM docs WHERE doc_id = keep_id),
    near AS (
      SELECT DISTINCT doc_b AS near_id
      FROM ({_lsh_jaccard_sql("reps", threshold=0.6)}))
    SELECT d.doc_id,
           CASE WHEN d.doc_id != d.keep_id OR n.near_id IS NOT NULL
                THEN 'drop' ELSE 'keep' END AS decision,
           CASE WHEN d.doc_id != d.keep_id THEN 'exact_dup'
                WHEN n.near_id IS NOT NULL THEN 'near_dup'
                ELSE 'none' END AS reason
    FROM docs d LEFT JOIN near n ON d.doc_id = n.near_id
    """,
)
def q_dedup_decide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retention pass (exact dedup -> LSH near-dup on
    representatives -> keep/drop per doc) over a corpus augmented with
    deterministic exact copies (doc_id+100000) and near-copies with a
    trailing banner (doc_id+200000) — the full composition a curation job
    runs, value-oracled across both engines."""
    from ocr_spark.functions.dedup import dedup_decide

    corpus = _dedup_corpus(spark, sf_dir)
    return dedup_decide(corpus, "doc_id", "text", threshold=0.6)


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE corpus AS ({_DEDUP_CORPUS_SQL}),
    jac AS (SELECT doc_a, doc_b
            FROM ({{jaccard}})),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
    SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
    """.replace("{jaccard}", _lsh_jaccard_sql("corpus", threshold=0.6)),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: LSH+Jaccard edges (threshold 0.6)
    over the augmented dedup corpus, then min-label connected components —
    (a~b, b~c) collapses to one retention cluster {a,b,c} labelled by its
    smallest doc_id. The DuckDB twin computes the same fixpoint through a
    recursive reachability CTE, independently cross-checking the
    propagation loop, so the oracle covers the iteration logic itself."""
    from ocr_spark.functions.dedup import connected_components, lsh_jaccard_pairs

    corpus = _dedup_corpus(spark, sf_dir)
    edges = lsh_jaccard_pairs(corpus, "doc_id", "text", n_bands=4, threshold=0.6)
    comp = connected_components(
        corpus.select(F.col("doc_id").alias("node")), edges
    )
    return comp.select(F.col("node").alias("doc_id"), "component")


@query(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE corpus AS ({{corpus}}),
    jac AS (SELECT doc_a, doc_b
            FROM ({{jaccard}})),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    q AS (
      SELECT doc_id AS node,
             CAST(round(CAST(1000000 * len(list_distinct(w)) AS DOUBLE)
                        / len(w)) AS BIGINT) AS quality_micro
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM corpus WHERE length(trim(text)) > 0)),
    j AS (SELECT c.node, c.component, COALESCE(q.quality_micro, 0) AS quality_micro
          FROM comp c LEFT JOIN q USING (node))
    SELECT node, component, quality_micro,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY component ORDER BY quality_micro DESC, node) AS rn
          FROM j)
    """.replace("{corpus}", _DEDUP_CORPUS_SQL)
       .replace("{jaccard}", _lsh_jaccard_sql("corpus", threshold=0.6)),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best retention over near-dup clusters: the dedup_components
    clustering joined with a distinct-word-ratio quality score; each
    cluster keeps its highest-quality member (ties to the smallest id).
    The argmax is a struct-MAX aggregation with map-side partials, never a
    per-component window sort."""
    from ocr_spark.functions.dedup import (
        connected_components, keep_best_representative, lsh_jaccard_pairs)

    corpus = _dedup_corpus(spark, sf_dir)
    edges = lsh_jaccard_pairs(corpus, "doc_id", "text", n_bands=4, threshold=0.6)
    comp = connected_components(
        corpus.select(F.col("doc_id").alias("node")), edges)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    quality = corpus.filter(F.length(F.trim("text")) > 0).select(
        F.col("doc_id").alias("node"),
        F.round(
            (F.lit(1000000) * F.size(F.array_distinct(words))).cast("double")
            / F.size(words)
        ).cast("bigint").alias("quality_micro"),
    )
    all_q = comp.select("node").join(quality, "node", "left").select(
        "node", F.coalesce("quality_micro", F.lit(0)).cast("bigint").alias("quality_micro"))
    return keep_best_representative(comp, all_q)


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS (
      SELECT d.doc_id AS doc, d.lang, d.source,
             list_transform(s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS shingles
      FROM documents d JOIN ({_SHINGLE_SQL}) s ON d.doc_id = s.doc)
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           ROUND(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
                 THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(a.shingles || b.shingles))
                 ELSE 0.0 END, 9) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc < b.doc
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard within (lang, source) blocks — bounded quadratic."""
    return ngram_jaccard_pairs(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", ["lang", "source"]
    )


def _simhash_oracle_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hashes, h -> (h & {1 << b}) != 0)) >= n AND n > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(60)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id AS doc,
             CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 2 THEN
               list_distinct(list_transform(
                 generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                 i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+1]))
             ELSE CAST([] AS VARCHAR[]) END AS shingles
      FROM documents),
    h AS (SELECT doc,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hashes,
                 len(shingles) AS n
          FROM sh)
    SELECT doc, CAST({bits} AS BIGINT) AS simhash FROM h
    """


@query("simhash", _simhash_oracle_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash: majority vote per bit over shingle md5 hashes."""
    out = simhash64(_cpu(spark, sf_dir, "documents"), "doc_id", "text", shingle_n=2)
    return out.select("doc", F.col("simhash").cast("bigint").alias("simhash"))


@query(
    "simhash_pairs",
    f"""
    WITH sig AS (SELECT * FROM ({_simhash_oracle_sql()})),
    bands AS (
      SELECT doc, simhash, b, (simhash >> (b * 15)) & 32767 AS sigb
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
    ok AS (SELECT b, sigb FROM bands GROUP BY b, sigb
           HAVING COUNT(*) BETWEEN 2 AND {DEFAULT_MAX_BUCKET}),
    capped AS (SELECT bands.* FROM bands JOIN ok USING (b, sigb)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, a.simhash AS sig_a,
                      c.doc AS doc_b, c.simhash AS sig_b
      FROM capped a JOIN capped c
        ON a.b = c.b AND a.sigb = c.sigb AND a.doc < c.doc)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs: 60-bit signatures split into 4
    15-bit bands (pigeonhole-exact for Hamming radius 3), band-bucket
    candidates under the degenerate-bucket cap, xor/popcount verify."""
    from ocr_spark.functions.dedup import simhash_pairs

    return simhash_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "winnow_pairs",
    """
    WITH nx AS (
      SELECT doc_id AS doc,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents),
    h AS (
      SELECT doc,
             CASE WHEN length(norm) - 19 >= 1 THEN
               list_transform(generate_series(1, length(norm) - 19),
                 i -> ('0x' || substr(md5(substr(norm, i, 20)), 1, 8))::BIGINT)
             ELSE CAST([] AS BIGINT[]) END AS h
      FROM nx),
    fps AS (
      SELECT doc, unnest(
        CASE WHEN len(h) >= 4 THEN
               list_distinct(list_transform(generate_series(1, len(h) - 3),
                 j -> list_min(h[j : j + 3])))
             WHEN len(h) >= 1 THEN [list_min(h)]
             ELSE CAST([] AS BIGINT[]) END) AS fp
      FROM h),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 10),
    f AS (SELECT doc, fp FROM fps JOIN rare USING (fp))
    SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    HAVING COUNT(*) >= 2
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing: char-20-gram hashes, window-4 minima as
    fingerprints, pairs sharing >= 2 fingerprints rarer than df=10 — the
    substring-overlap detector next to the word-shingle dedup family."""
    from ocr_spark.functions.dedup import winnow_pairs

    return winnow_pairs(_cpu(spark, sf_dir, "documents"), "doc_id", "text",
                        k=20, w=4, max_df=10, min_shared=2)


_CONT_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000 AS doc_id,
           array_to_string(string_split_regex(trim(text), '\\s+')[
             1 : len(string_split_regex(trim(text), '\\s+')) // 2 + 2], ' ') AS text
    FROM documents WHERE doc_id % 9 = 0
"""


@query(
    "containment_pairs",
    f"""
    SELECT * FROM (
    WITH corpus AS ({_CONT_CORPUS_SQL}),
    pairs AS ({_lsh_pairs_sql('corpus')}),
    hs AS (
      SELECT s.doc, list_distinct(list_transform(
               s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
      FROM ({_shingle_sql('corpus')}) s)
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
           CAST(len(a.sh) AS BIGINT) AS size_a,
           CAST(len(b.sh) AS BIGINT) AS size_b,
           CAST(CASE WHEN len(a.sh) > 0
                THEN (10000 * len(list_intersect(a.sh, b.sh))) // len(a.sh)
                ELSE 0 END AS BIGINT) AS cont_a_bp,
           CAST(CASE WHEN len(b.sh) > 0
                THEN (10000 * len(list_intersect(a.sh, b.sh))) // len(b.sh)
                ELSE 0 END AS BIGINT) AS cont_b_bp
    FROM pairs p JOIN hs a ON a.doc = p.doc_a JOIN hs b ON b.doc = p.doc_b
    ) WHERE GREATEST(cont_a_bp, cont_b_bp) >= 8000
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over LSH candidates on a corpus augmented
    with half-length prefix fragments (doc_id+300000): the fragment side
    hits containment 10000 bp exactly (its shingle set is a subset) while
    pair Jaccard sits far lower — the case symmetric near-dup misses."""
    from ocr_spark.functions.dedup import containment_pairs

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    frag = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(trim(text), '\\\\s+'), 1, "
            "size(split(trim(text), '\\\\s+')) div 2 + 2), ' ')"
        ).alias("text"),
    )
    return containment_pairs(docs.unionByName(frag), "doc_id", "text")


_EDIT_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 500000 AS doc_id, 'Z' || substring(text, 2) AS text
    FROM documents WHERE doc_id % 8 = 0
"""


@query(
    "edit_verify_pairs",
    f"""
    SELECT * FROM (
    WITH corpus AS ({_EDIT_CORPUS_SQL}),
    pairs AS ({_lsh_pairs_sql('corpus')}),
    t AS (SELECT doc_id AS doc, substring(text, 1, 4096) AS t FROM corpus),
    j AS (
      SELECT p.doc_a, p.doc_b,
             CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
             CAST(length(a.t) AS BIGINT) AS len_a,
             CAST(length(b.t) AS BIGINT) AS len_b
      FROM pairs p JOIN t a ON a.doc = p.doc_a JOIN t b ON b.doc = p.doc_b)
    SELECT doc_a, doc_b, lev, len_a, len_b,
           CAST(CASE WHEN GREATEST(len_a, len_b) > 0
                THEN 10000 - (10000 * lev) // GREATEST(len_a, len_b)
                ELSE 10000 END AS BIGINT) AS sim_bp
    FROM j
    ) WHERE sim_bp >= 8000
    """,
)
def q_edit_verify_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification over LSH candidates on a corpus with
    injected single-substitution typo variants (doc_id+500000): variants
    certify at sim_bp ~9990+, while candidate pairs that merely share
    shingle buckets without character-level closeness are rejected."""
    from ocr_spark.functions.dedup import edit_verify_pairs

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 8 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"))
    return edit_verify_pairs(docs.unionByName(variants), "doc_id", "text")


# The eval sample is ABSOLUTELY bounded (doc_id < 5000 on top of the
# rate predicates -> <= 1750 docs at any corpus size): a rate-only
# sample (% 5) grows with the corpus and turns the quadratic truth join
# into an engine wall — the sf1-equivalent sweep timed it out at 10x.
# At the driver scales (sf0.001-0.01, all doc_id < 5000) the cap is a
# no-op, so oracle values are unchanged there.
_RECALL_SAMPLE_SQL = """
    SELECT doc_id, text FROM documents
    WHERE doc_id % 5 = 0 AND doc_id < 5000
    UNION ALL
    SELECT doc_id + 600000 AS doc_id,
           text || ' trailing banner words here' AS text
    FROM documents WHERE doc_id % 10 = 0 AND doc_id < 5000
    UNION ALL
    SELECT doc_id + 700000 AS doc_id, text
    FROM documents WHERE doc_id % 20 = 0 AND doc_id < 5000
"""


@query(
    "lsh_recall_eval",
    f"""
    WITH sample AS ({_RECALL_SAMPLE_SQL}),
    hs AS (
      SELECT s.doc, list_distinct(list_transform(
               s.shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
      FROM ({_shingle_sql('sample')}) s),
    truth AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                  THEN (10000 * len(list_intersect(a.sh, b.sh)))
                       // len(list_distinct(a.sh || b.sh))
                  ELSE 0 END AS jacc_bp
      FROM hs a JOIN hs b ON a.doc < b.doc),
    t AS (SELECT * FROM truth WHERE jacc_bp >= 5000),
    cand AS (SELECT doc_a, doc_b, 1 AS caught FROM ({_lsh_pairs_sql('sample')})),
    j AS (
      SELECT CASE WHEN jacc_bp < 7000 THEN 'j50_70'
                  WHEN jacc_bp < 9000 THEN 'j70_90'
                  ELSE 'j90_100' END AS band,
             COALESCE(caught, 0) AS c
      FROM t LEFT JOIN cand USING (doc_a, doc_b))
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(c) AS BIGINT) AS n_caught,
           CAST((10000 * SUM(c)) // COUNT(*) AS BIGINT) AS recall_bp
    FROM j GROUP BY band
    """,
)
def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall calibration on a bounded sample (every fifth doc) salted
    with exact re-uploads (jaccard 10000) and banner-suffixed near-dups
    (the 70-100 band): per similarity band, ground-truth pair count vs
    pairs the production banding catches."""
    from ocr_spark.functions.dedup import lsh_recall_eval

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text") \
        .where(F.col("doc_id") < 5000)  # absolute cap, see _RECALL_SAMPLE_SQL
    sample = (
        docs.where(F.col("doc_id") % 5 == 0)
        .unionByName(docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 600000).alias("doc_id"),
            F.concat("text", F.lit(" trailing banner words here"))
            .alias("text")))
        .unionByName(docs.where(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id"), "text"))
    )
    return lsh_recall_eval(sample, "doc_id", "text")


def _sig_sql(src: str) -> str:
    """Banded minhash signatures of a CTE (the minhash oracle core,
    parameterized by source)."""
    return f"""
      SELECT doc, band,
             list_aggregate(list_transform(shingles, s -> md5(band || '|' || s)), 'min') AS signature
      FROM (SELECT doc, shingles, unnest(range(0, 4)) AS band
            FROM ({_shingle_sql(src)}) sh0)
      WHERE len(shingles) > 0"""


@query(
    "dedup_incremental",
    f"""
    WITH nxt AS (
      SELECT a.doc_id, COALESCE(b.text, a.text) AS ntext
      FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id + 1),
    newb AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 6 = 0 THEN n.ntext ELSE d.text END AS text
      FROM documents d JOIN nxt n USING (doc_id)
      WHERE d.doc_id % 3 = 0),
    oldb AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
    sign AS ({_sig_sql('newb')}),
    sigo AS ({_sig_sql('oldb')}),
    idx AS (SELECT band, signature, COUNT(DISTINCT doc) AS n_idx
            FROM sigo GROUP BY band, signature),
    hits AS (SELECT s.doc, COUNT(*) AS h, SUM(i.n_idx) AS nd
             FROM sign s JOIN idx i USING (band, signature) GROUP BY s.doc)
    SELECT n.doc_id AS doc,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS n_bands_hit,
           CAST(COALESCE(h.nd, 0) AS BIGINT) AS n_index_docs,
           CASE WHEN h.doc IS NOT NULL THEN 'drop' ELSE 'keep' END AS action
    FROM newb n LEFT JOIN hits h ON h.doc = n.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-index dedup: the new batch (every third doc,
    half of them carrying a retained doc's exact text) admitted against
    the retained corpus's band-signature index — copies drop with the
    full 4-band hit trail, fresh text keeps."""
    from ocr_spark.functions.dedup import dedup_vs_index

    d = _cpu(spark, sf_dir, "documents")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"),
                   F.col("text").alias("ntext"))
    new = (
        d.join(nxt, "doc_id", "left")
        .where(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 6 == 0,
                   F.coalesce("ntext", "text"))
            .otherwise(F.col("text")).alias("text"),
        )
    )
    old = d.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    return dedup_vs_index(new, old, "doc_id", "text")


@query(
    "source_overlap",
    f"""
    WITH pairs AS ({_LSH_PAIRS_SQL}),
    smap AS (SELECT doc_id, source FROM documents),
    cs AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    pg AS (
      SELECT LEAST(a.source, b.source) AS src_a,
             GREATEST(a.source, b.source) AS src_b,
             COUNT(*) AS n_pairs
      FROM pairs p
      JOIN smap a ON a.doc_id = p.doc_a
      JOIN smap b ON b.doc_id = p.doc_b
      GROUP BY 1, 2)
    SELECT pg.src_a, pg.src_b,
           CAST(pg.n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN pg.src_a = pg.src_b
                THEN pg.n_pairs * 1000000 // (ca.n * (ca.n - 1) // 2)
                ELSE pg.n_pairs * 1000000 // (ca.n * cb.n)
                END AS BIGINT) AS overlap_ppm
    FROM pg
    JOIN cs ca ON ca.source = pg.src_a
    JOIN cs cb ON cb.source = pg.src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate affinity matrix: LSH candidate pairs
    rolled up to unordered (source, source) cells, normalized by the
    possible-pair count into exact ppm — the corpus-mixing signal
    (mirror sites and syndicated feeds light up off-diagonal cells;
    within-source template reuse lights the diagonal).

    Scale shape: composes lsh_candidate_pairs (bucket-local joins keyed
    on (band, signature), degenerate-cap bounded) with two broadcast-able
    id->source lookups and a source-pair agg whose frame is
    |sources|^2 — corpus-size-free past the pair generator."""
    from ocr_spark.functions.dedup import lsh_candidate_pairs

    docs = _cpu(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", n_bands=4)
    smap = docs.select("doc_id", "source")
    cs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    j = (
        pairs
        .join(smap.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("source", "sa"), "doc_a")
        .join(smap.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("source", "sb"), "doc_b")
    )
    pg = (
        j.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return (
        pg
        .join(cs.withColumnRenamed("source", "src_a")
              .withColumnRenamed("n", "na"), "src_a")
        .join(cs.withColumnRenamed("source", "src_b")
              .withColumnRenamed("n", "nb"), "src_b")
        .select(
            "src_a", "src_b",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr(
                "CAST(CASE WHEN src_a = src_b"
                "     THEN n_pairs * 1000000 div (na * (na - 1) div 2)"
                "     ELSE n_pairs * 1000000 div (na * nb)"
                "     END AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


@query(
    "cdc_chunks",
    """
    WITH words AS (
      SELECT doc, u.pos, u.w FROM (
        SELECT doc_id AS doc,
               list_transform(
                 generate_series(0, len(ws) - 1),
                 i -> {'pos': i, 'w': ws[i + 1]}) AS pairs
        FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
              FROM documents)),
      LATERAL unnest(pairs) AS t(u)
      WHERE u.w <> ''),
    marked AS (
      SELECT doc, pos, w,
             CASE WHEN pos = 0 OR
                  ('0x' || substr(md5(w), 1, 15))::BIGINT % 8 = 0
                  THEN 1 ELSE 0 END AS b
      FROM words),
    numbered AS (
      SELECT doc, pos, w,
             SUM(b) OVER (PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
      FROM marked),
    chunks AS (
      SELECT doc, chunk, COUNT(*) AS n_words,
             md5(string_agg(w, ' ' ORDER BY pos)) AS fp
      FROM numbered GROUP BY doc, chunk),
    df AS (
      SELECT fp, COUNT(DISTINCT doc) AS ndocs FROM chunks GROUP BY fp)
    SELECT c.doc AS doc_id,
           CAST(SUM(c.n_words) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_chunks
    FROM chunks c JOIN df ON df.fp = c.fp
    GROUP BY c.doc
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of every document (md5-gated word
    boundaries) with cross-document chunk-sharing counts — the
    incremental-dedup unit audit. See functions/dedup.cdc_chunks."""
    from ocr_spark.functions.dedup import cdc_chunks

    return cdc_chunks(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", mask=8)


@query(
    "paragraph_dedup",
    f"""
    WITH ml AS ({_MULTILINE_SQL}),
    lx AS (SELECT doc_id AS doc, string_split(text, chr(10)) AS ps FROM ml),
    paras AS (
      SELECT doc, u.pos AS pos, u.para AS para
      FROM (SELECT doc,
                   unnest(list_transform(generate_series(1, len(ps)),
                                         i -> {{'pos': i, 'para': ps[i]}})) AS u
            FROM lx)),
    n AS (SELECT doc, pos, para,
                 CASE WHEN lower(trim(para)) = '' THEN NULL
                      ELSE md5(lower(trim(para))) END AS h
          FROM paras),
    win AS (SELECT h, MIN({{'doc': doc, 'pos': pos}}) AS w FROM n
            WHERE h IS NOT NULL GROUP BY h),
    kept AS (
      SELECT n.doc, n.pos, n.para
      FROM n LEFT JOIN win USING (h)
      WHERE n.h IS NULL OR (n.doc = w.doc AND n.pos = w.pos)),
    reb AS (SELECT doc, COUNT(*) AS n_kept,
                   string_agg(para, chr(10) ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc)
    SELECT l.doc, CAST(len(l.ps) AS BIGINT) AS n_paras,
           CAST(len(l.ps) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
           COALESCE(r.clean_text, '') AS clean_text
    FROM lx l LEFT JOIN reb r USING (doc)
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide paragraph dedup KEEPING the first occurrence
    (min (doc, pos) per normalized-paragraph hash) over the multi-line
    web-page corpus — the complement of line_dedup's drop-every-copy:
    exactly one copy of each repeated header/footer/syndicated paragraph
    survives, at its earliest corpus position. See
    functions/curation.paragraph_dedup for the scale shape."""
    from ocr_spark.functions.curation import paragraph_dedup

    return paragraph_dedup(_multiline_docs(spark, sf_dir), "doc_id", "text")


@query(
    "soft_dedup_weights",
    """
    WITH h AS (
      SELECT doc_id AS doc, md5(lower(trim(text))) AS h FROM documents),
    sz AS (SELECT h, COUNT(*) AS cluster_size FROM h GROUP BY h)
    SELECT doc, CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(1000000 // cluster_size AS BIGINT) AS weight_micro
    FROM h JOIN sz USING (h)
    """,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup reweighting over the documents table: every doc gets
    weight_micro = 1e6 // exact-content-cluster size, so duplicated
    content contributes one document's expected mass without dropping
    any copy. See functions/curation.soft_dedup_weights."""
    from ocr_spark.functions.curation import soft_dedup_weights

    return soft_dedup_weights(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text")


_TITLE_TEXT = (
    ["Breaking News Markets Rally Today"],
    ["markets rally today breaking news"],
    ["Local Team Wins The Cup ", 5],
    ["The Cup Wins Local Team ", 5],
)
_TITLE_TEXT_SQL = _docs_sql(_TITLE_TEXT, "title")

_TITLE_SQL = (
    "WITH u AS (" + _TITLE_TEXT_SQL + "),"
    """
    s AS (
      SELECT doc,
             array_to_string(list_sort(list_filter(
               string_split(lower(title), ' '),
               w -> w NOT IN ('the', 'a', 'an'))), ' ') AS sig
      FROM u)
    SELECT sig,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc) AS BIGINT) AS keeper,
           CAST(MAX(doc) AS BIGINT) AS max_doc
    FROM s GROUP BY sig HAVING COUNT(*) >= 2
    """
)


@query("title_signature_dedup", _TITLE_SQL)
def q_title_signature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-token title signatures — the canopy dedup news pipelines
    run before anything expensive: lowercase, drop articles, sort the
    tokens, and group. Reordered syndicated headlines ('Breaking News
    Markets Rally Today' vs 'markets rally today breaking news')
    collapse to one signature; clusters of >=2 report size and the
    min-id keeper. One exact groupBy on the signature — the O(n)
    pre-filter that spares MinHash the easy 90%. Zero-shuffle
    projection + one signature-keyed agg."""
    docs = _docs(spark, sf_dir, _TITLE_TEXT, "title")
    sig = F.array_join(F.array_sort(F.filter(
        F.split(F.lower("title"), " "),
        lambda w: ~w.isin("the", "a", "an"))), " ")
    s = docs.select("doc", sig.alias("sig"))
    return (s.groupBy("sig")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("doc").cast("bigint").alias("keeper"),
                 F.max("doc").cast("bigint").alias("max_doc"))
            .filter(F.col("n_docs") >= 2))


# cluster key is doc_id // 250, NOT doc_id % 20: a fixed cluster count
# grows every token bucket linearly with the corpus, so prefix-candidate
# generation goes quadratic — the sf1-equivalent sweep timed the Spark
# side out at 10x under the modulo key. Dividing bounds docs-per-cluster
# (and thus every prefix-token bucket) at 250 forever; corpus growth
# adds clusters, which is how real template/site near-dup groups scale.
_PFJ_TOKENS_SQL = """
    SELECT doc_id AS doc,
           list_sort(list_distinct(
             list_append(
               list_filter(
                 list_transform(range(0, 8),
                   j -> 'c' || CAST(doc_id // 250 AS VARCHAR) || '_'
                        || CAST(j AS VARCHAR)),
                 t -> t <> 'c' || CAST(doc_id // 250 AS VARCHAR) || '_'
                      || CAST((doc_id // 20) % 4 AS VARCHAR)),
               'x' || CAST(doc_id % 7 AS VARCHAR)))) AS toks
    FROM documents
"""

_PFJ_SQL = (
    "WITH t AS (" + _PFJ_TOKENS_SQL + ")"
    """
    SELECT a.doc AS d1, b.doc AS d2,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
             AS inter,
           CAST(len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks)) AS BIGINT)
             AS union_sz,
           CAST(len(list_intersect(a.toks, b.toks)) * 10000
                // (len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks))) AS BIGINT)
             AS jaccard_bp
    FROM t a JOIN t b ON a.doc < b.doc
    WHERE len(list_intersect(a.toks, b.toks)) * 10000
          >= 6000 * (len(a.toks) + len(b.toks)
                     - len(list_intersect(a.toks, b.toks)))
    """
)


@query("prefix_filter_join", _PFJ_SQL)
def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family) — every doc pair with token-set Jaccard >= 0.6,
    with a no-false-negative GUARANTEE (unlike MinHash/LSH): two sets
    with Jaccard >= t must share a token within each other's first
    |s| - ceil(t|s|) + 1 tokens under a shared global order, so
    candidate generation explodes only that prefix (rarest-first
    ordering keeps prefix-token buckets small) and an id-keyed join
    verifies candidates exactly. The oracle twin is the BRUTE-FORCE
    all-pairs join — equality of outputs is precisely the
    completeness guarantee. Shuffles: one vocab count, one
    prefix-token-keyed pair generation, two id-keyed verify joins;
    never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    # div-250 cluster key, see _PFJ_TOKENS_SQL: bounded token buckets
    cluster = F.expr("CAST(doc_id AS BIGINT) div 250").cast("string")
    dropped = F.concat(F.lit("c"), cluster, F.lit("_"),
                       (F.expr("doc_id div 20") % 4).cast("string"))
    toks = F.array_sort(F.array_distinct(F.array_append(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: F.concat(F.lit("c"), cluster, F.lit("_"),
                                   j.cast("string"))),
            lambda t: t != dropped),
        F.concat(F.lit("x"), (k % 7).cast("string")))))
    t = docs.select(k.alias("doc"), toks.alias("toks"))

    # global rarest-first token order
    vocab = (t.select(F.explode("toks").alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("freq")))
    ranked = vocab.select(
        "tok",
        F.row_number().over(Window.orderBy("freq", "tok"))
        .alias("rank"))
    # per-doc tokens sorted by global rank; prefix len = n-ceil(.6n)+1
    ordered = (t.select("doc", F.explode("toks").alias("tok"))
               .join(F.broadcast(ranked), "tok")
               .groupBy("doc")
               .agg(F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("rank", "tok"))),
                   lambda s: s["tok"]).alias("otoks")))
    pref = ordered.select(
        "doc", "otoks",
        F.expr("slice(otoks, 1, size(otoks)"
               " - (6 * size(otoks) + 9) div 10 + 1)").alias("prefix"))
    cand = (pref.select("doc", F.explode("prefix").alias("tok"))
            .alias("a")
            .join(pref.select(F.col("doc").alias("doc2"),
                              F.explode("prefix").alias("tok"))
                  .alias("b"), "tok")
            .filter(F.col("doc") < F.col("doc2"))
            .select(F.col("doc").alias("d1"),
                    F.col("doc2").alias("d2")).distinct())
    sides = t.select(F.col("doc").alias("d1"),
                     F.col("toks").alias("ta"))
    sides2 = t.select(F.col("doc").alias("d2"),
                      F.col("toks").alias("tb"))
    verified = (cand.join(sides, "d1").join(sides2, "d2")
                .select(
                    "d1", "d2",
                    F.size(F.array_intersect("ta", "tb"))
                    .cast("bigint").alias("inter"),
                    (F.size("ta") + F.size("tb")
                     - F.size(F.array_intersect("ta", "tb")))
                    .cast("bigint").alias("union_sz")))
    return (verified
            .filter(F.col("inter") * 10000 >= 6000 * F.col("union_sz"))
            .select("d1", "d2", "inter", "union_sz",
                    F.expr("inter * 10000 div union_sz").cast("bigint")
                    .alias("jaccard_bp")))


_SOUNDEX_TR_FROM = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
_SOUNDEX_TR_TO = "111122222222334556000000"


@query(
    "soundex_blocking",
    f"""
    WITH w AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS word
      FROM part),
    u AS (SELECT word, upper(word) AS uw FROM w WHERE word <> ''),
    d0 AS (
      SELECT word, substr(uw, 1, 1) AS first,
             translate(uw, '{_SOUNDEX_TR_FROM}', '{_SOUNDEX_TR_TO}')
               AS dig
      FROM u),
    d1 AS (
      SELECT word, first,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(dig,
                 '0{{2,}}', '0', 'g'), '1{{2,}}', '1', 'g'),
                 '2{{2,}}', '2', 'g'), '3{{2,}}', '3', 'g'),
                 '4{{2,}}', '4', 'g'), '5{{2,}}', '5', 'g'),
                 '6{{2,}}', '6', 'g') AS dig
      FROM d0),
    d2 AS (
      SELECT word, first,
             replace(CASE WHEN first IN ('H', 'W') THEN dig
                          ELSE substr(dig, 2) END, '0', '') AS tail
      FROM d1),
    sx AS (
      SELECT word,
             first || substr(rpad(tail, 3, '0'), 1, 3) AS soundex_code
      FROM d2),
    blk AS (SELECT soundex_code, CAST(COUNT(*) AS BIGINT) AS block_size
            FROM sx GROUP BY soundex_code)
    SELECT sx.word, sx.soundex_code, blk.block_size
    FROM sx JOIN blk USING (soundex_code)
    """,
)
def q_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American Soundex blocking keys over the part-name vocabulary —
    the phonetic hash record linkage uses to bound fuzzy-match candidate
    pairs (block first, edit-distance inside blocks only). Implemented
    from the rulebook identically in both engines with translate +
    run-collapse regexes: H/W are DELETED before collapsing (so codes
    merge across them — the Ashcraft→A261 rule), vowels separate then
    drop, the first letter is kept uncoded. Emits each word's code and
    its block size — the fan-out number that prices the downstream
    verify join. Vocab-grain projection + one code-keyed agg."""
    part = _t(spark, sf_dir, "part")
    w = (part.select(F.explode(F.split("p_name", " ")).alias("word"))
         .filter(F.col("word") != "").distinct())
    u = w.select("word", F.upper("word").alias("uw"))
    d0 = u.select(
        "word", F.substring("uw", 1, 1).alias("first"),
        F.translate("uw", _SOUNDEX_TR_FROM, _SOUNDEX_TR_TO).alias("dig"))
    dig = F.col("dig")
    for c in "0123456":
        dig = F.regexp_replace(dig, c + "{2,}", c)
    d1 = d0.select("word", "first", dig.alias("dig"))
    d2 = d1.select(
        "word", "first",
        F.expr("replace(CASE WHEN first IN ('H', 'W') THEN dig"
               " ELSE substr(dig, 2) END, '0', '')").alias("tail"))
    sx = d2.select(
        "word",
        F.concat(F.col("first"),
                 F.substring(F.rpad("tail", 3, "0"), 1, 3))
        .alias("soundex_code"))
    blk = sx.groupBy("soundex_code").agg(
        F.count(F.lit(1)).cast("bigint").alias("block_size"))
    return sx.join(blk, "soundex_code").select(
        "word", "soundex_code", "block_size")


_ER_CONS = "bcdfgjklmnpqrst"


@query(
    "entity_resolution_pass",
    f"""
    WITH recs AS (
      SELECT c_custkey AS k,
             substr('{_ER_CONS}', c_custkey % 40 % 15 + 1, 1)
               || substr('{_ER_CONS}', c_custkey % 40 % 15 + 1, 1)
               || substr('aei', (c_custkey // 40) % 3 + 1, 1)
               || substr('{_ER_CONS}', (c_custkey % 40 // 15) % 15 + 1, 1)
               || substr('{_ER_CONS}', (c_custkey % 40 // 15) % 15 + 1, 1)
               || 'o' AS name,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer),
    sx0 AS (
      SELECT k, name, cents, upper(name) AS uw FROM recs),
    sx1 AS (
      SELECT k, name, cents, substr(uw, 1, 1) AS first,
             translate(uw, '{_SOUNDEX_TR_FROM}', '{_SOUNDEX_TR_TO}')
               AS dig
      FROM sx0),
    sx2 AS (
      SELECT k, name, cents, first,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(dig,
                 '0{{2,}}', '0', 'g'), '1{{2,}}', '1', 'g'),
                 '2{{2,}}', '2', 'g'), '3{{2,}}', '3', 'g'),
                 '4{{2,}}', '4', 'g'), '5{{2,}}', '5', 'g'),
                 '6{{2,}}', '6', 'g') AS dig
      FROM sx1),
    sx AS (
      SELECT k, name, cents,
             first || substr(rpad(replace(
               CASE WHEN first IN ('H', 'W') THEN dig
                    ELSE substr(dig, 2) END, '0', ''), 3, '0'), 1, 3)
               AS blk
      FROM sx2),
    pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM sx a JOIN sx b
        ON a.blk = b.blk AND a.k < b.k
           AND levenshtein(a.name, b.name) <= 1),
    nbr AS (
      SELECT ka AS k, kb AS n FROM pairs
      UNION ALL SELECT kb, ka FROM pairs
      UNION ALL SELECT k, k FROM sx),
    l1 AS (SELECT k, MIN(n) AS lbl FROM nbr GROUP BY k),
    l2 AS (
      SELECT nbr.k, MIN(l1.lbl) AS lbl
      FROM nbr JOIN l1 ON l1.k = nbr.n GROUP BY nbr.k),
    ent AS (
      SELECT l2.lbl AS entity_id,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             CAST(SUM(sx.cents) AS BIGINT) AS total_acctbal_cents
      FROM l2 JOIN sx ON sx.k = l2.k GROUP BY l2.lbl)
    SELECT ent.entity_id, ent.n_records,
           sx.name AS canonical_name, ent.total_acctbal_cents
    FROM ent JOIN sx ON sx.k = ent.entity_id
    """,
)
def q_entity_resolution_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (the MDM pass, composed from this
    repo's primitives the way dedup_decide composes the near-dup
    stack): deterministic name variants are synthesized per customer
    (three vowel-alternation spellings per surname family — same
    Soundex skeleton, pairwise edit distance 1), then blocked by
    Soundex, verified with JVM levenshtein <= 1 INSIDE blocks only,
    clustered by two min-label rounds (families are complete graphs,
    so one round converges; two are run and the test pins the result),
    and merged with survivorship rules (min-key canonical record,
    exact summed balances). The verify join is block-bounded — the
    blocking keys cap candidate pairs exactly as the LSH bands do for
    documents; nothing is ever all-pairs."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    r1 = F.expr(f"substr('{_ER_CONS}', CAST(c_custkey % 40 % 15 + 1"
                " AS INT), 1)")
    r2 = F.expr(f"substr('{_ER_CONS}', CAST((c_custkey % 40 div 15)"
                " % 15 + 1 AS INT), 1)")
    vw = F.expr("substr('aei', CAST((c_custkey div 40) % 3 + 1"
                " AS INT), 1)")
    recs = cust.select(
        k.alias("k"),
        F.concat(r1, r1, vw, r2, r2, F.lit("o")).alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"))
    d0 = recs.select(
        "k", "name", "cents",
        F.substring(F.upper("name"), 1, 1).alias("first"),
        F.translate(F.upper("name"), _SOUNDEX_TR_FROM, _SOUNDEX_TR_TO)
        .alias("dig"))
    dig = F.col("dig")
    for c in "0123456":
        dig = F.regexp_replace(dig, c + "{2,}", c)
    sx = d0.select("k", "name", "cents", dig.alias("dig"), "first") \
        .select(
            "k", "name", "cents",
            F.concat(
                F.col("first"),
                F.substring(F.rpad(F.expr(
                    "replace(CASE WHEN first IN ('H', 'W') THEN dig"
                    " ELSE substr(dig, 2) END, '0', '')"), 3, "0"),
                    1, 3)).alias("blk"))
    a = sx.select(F.col("k").alias("ka"), F.col("name").alias("na"),
                  F.col("blk").alias("blk"))
    b = sx.select(F.col("k").alias("kb"), F.col("name").alias("nb"),
                  F.col("blk").alias("blk"))
    pairs = (a.join(b, "blk")
             .filter((F.col("ka") < F.col("kb"))
                     & (F.levenshtein("na", "nb") <= 1))
             .select("ka", "kb"))
    nbr = (pairs.select(F.col("ka").alias("k"), F.col("kb").alias("n"))
           .unionByName(pairs.select(F.col("kb").alias("k"),
                                     F.col("ka").alias("n")))
           .unionByName(sx.select(F.col("k"), F.col("k").alias("n"))))
    l1 = nbr.groupBy("k").agg(F.min("n").alias("lbl"))
    l2 = (nbr.join(l1.select(F.col("k").alias("n"), "lbl"), "n")
          .groupBy("k").agg(F.min("lbl").alias("lbl")))
    ent = (l2.join(sx.select("k", "cents"), "k")
           .groupBy("lbl")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"),
                F.sum("cents").cast("bigint")
                .alias("total_acctbal_cents")))
    return (ent.join(sx.select(F.col("k").alias("lbl"),
                               F.col("name").alias("canonical_name")),
                     "lbl")
            .select(F.col("lbl").alias("entity_id"), "n_records",
                    "canonical_name", "total_acctbal_cents"))
