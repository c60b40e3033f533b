"""Similarity search and retrieval over ``embeddings`` and ``documents``:
brute-force cosine top-k, sign-LSH and IVF ANN paths, quantized top-k,
semantic dedup, inverted-index search and rank fusion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.functions import similarity
from ocr_spark.queries.registry import ORACLE, _cpu, query
from ocr_spark.queries.text import _WORDS_CTE


_COSINE_TOPK_SQL = """
    SELECT * FROM (
    WITH base AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings),
    q AS (SELECT nid AS qid, nvec AS qvec FROM base WHERE nid < 10),
    scored AS (
      SELECT q.qid, b.nid,
             ROUND(
               list_aggregate(list_transform(list_zip(q.qvec, b.nvec), p -> p[1] * p[2]), 'sum')
               / (sqrt(list_aggregate(list_transform(q.qvec, x -> x * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(b.nvec, x -> x * x), 'sum'))), 6) AS cos
      FROM base b CROSS JOIN q WHERE b.nid != q.qid)
    SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      FROM scored)
    WHERE rk <= 5
    )
"""


@query("cosine_topk", _COSINE_TOPK_SQL)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: brute-force cosine top-5 for the first 10 vectors."""
    out = similarity.brute_force_topk(_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select("qid", "nid", "cos", F.col("rank").cast("bigint").alias("rank"))


def _lsh_bucket_oracle_sql(n_planes: int = 8) -> str:
    terms = []
    for b in range(n_planes):
        comp = (
            f"(('0x' || substr(md5({b} || ':' || i), 1, 4))::INTEGER / 32767.5 - 1.0)"
        )
        proj = (
            f"list_aggregate(list_transform(generate_series(0, dim - 1), "
            f"i -> vec[i + 1] * {comp}), 'sum')"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << b} ELSE 0 END")
    total = " + ".join(terms)
    return f"""
    WITH base AS (
      SELECT vec_id AS doc,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
             len(embedding) AS dim
      FROM embeddings)
    SELECT doc, CAST({total} AS BIGINT) AS bucket FROM base
    """


@query("lsh_buckets", _lsh_bucket_oracle_sql())
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket ids — the bucketed ANN join key at scale."""
    out = similarity.hyperplane_lsh_buckets(_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select("doc", F.col("bucket").cast("bigint").alias("bucket"))


_HAMMING_TOPK_SQL = f"""
    SELECT * FROM (
    WITH codes AS (SELECT * FROM ({_lsh_bucket_oracle_sql(60)})),
    q AS (SELECT doc AS qid, bucket AS qc FROM codes WHERE doc < 10),
    h AS (
      SELECT q.qid, c.doc AS nid,
             CAST(bit_count(xor(q.qc, c.bucket)) AS BIGINT) AS hamming
      FROM codes c CROSS JOIN q WHERE c.doc != q.qid),
    short AS (
      SELECT qid, nid, hamming FROM (
        SELECT qid, nid, hamming,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, nid) AS sr
        FROM h) WHERE sr <= 50),
    vecs AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    rer AS (
      SELECT s.qid, s.nid, s.hamming,
             ROUND(
               list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
               / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum'))), 6) AS cos
      FROM short s JOIN vecs a ON a.vid = s.qid JOIN vecs b ON b.vid = s.nid)
    SELECT qid, nid, hamming, cos, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, hamming, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      FROM rer)
    WHERE rk <= 5
    )
"""


@query("hamming_topk", _HAMMING_TOPK_SQL)
def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: 60-bit sign-LSH Hamming codes shortlist 50
    neighbours per query by xor/popcount, exact cosine reranks to top-5
    (recall@5 = 0.6 vs brute force on the 500-vector fixture, pinned in
    tests) — the compress-then-refine search beside brute-force and IVF."""
    return similarity.hamming_rerank_topk(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")


@query(
    "ann_eval",
    f"""
    WITH ex AS (SELECT qid, nid FROM ({_COSINE_TOPK_SQL})),
    hm AS (SELECT qid, nid FROM ({_HAMMING_TOPK_SQL})),
    hits AS (
      SELECT ex.qid, COUNT(hm.nid) AS n_hits
      FROM ex LEFT JOIN hm ON ex.qid = hm.qid AND ex.nid = hm.nid
      GROUP BY ex.qid)
    SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / 5, 6) AS recall
    FROM hits
    """,
)
def q_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a query: per-query recall@5 of the
    Hamming-code two-stage search against the brute-force cosine ground
    truth — the evaluation harness composed from the same operators it
    measures, so index-quality regressions surface in the correctness
    gate, not in a side script."""
    emb = _cpu(spark, sf_dir, "embeddings")
    ex = similarity.brute_force_topk(emb, "vec_id", "embedding").select(
        "qid", "nid")
    hm = similarity.hamming_rerank_topk(emb, "vec_id", "embedding").select(
        F.col("qid").alias("hqid"), F.col("nid").alias("hnid"))
    hits = (
        ex.join(hm, (ex["qid"] == hm["hqid"]) & (ex["nid"] == hm["hnid"]),
                "left")
        .groupBy("qid")
        .agg(F.count("hnid").alias("n_hits"))
    )
    return hits.select(
        "qid", F.col("n_hits").cast("bigint").alias("n_hits"),
        F.round(F.col("n_hits").cast("double") / 5, 6).alias("recall"),
    )


def _near_dup_oracle() -> str:
    bsql = ORACLE["lsh_buckets"]
    return f"""
    WITH bk AS ({bsql}),
    base AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec, b.bucket
      FROM embeddings e JOIN bk b ON e.vec_id = b.doc)
    SELECT a.nid AS doc_a, b.nid AS doc_b,
           ROUND(list_aggregate(list_transform(list_zip(a.nvec, b.nvec), p -> p[1]*p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x), 'sum'))), 6) AS cos
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.nid < b.nid
    WHERE ROUND(list_aggregate(list_transform(list_zip(a.nvec, b.nvec), p -> p[1]*p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(a.nvec, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(b.nvec, x -> x*x), 'sum'))), 6) >= CAST(0.3 AS DOUBLE)
    """


@query("embedding_near_dup", _near_dup_oracle())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the ANN scale path: sign-LSH
    bucket join first (shuffle key = bucket, never the full cross join),
    exact cosine + threshold only within buckets. The DuckDB twin mirrors
    the same bucketed plan; brute-force cosine is verified separately by
    `cosine_topk`, and the bucketing itself by `lsh_buckets`."""
    emb = _cpu(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "vec_id", "embedding")
    base = emb.select(
        F.col("vec_id").alias("nid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("nvec"),
    ).join(buckets.select(F.col("doc").alias("nid"), "bucket"), "nid")
    a = base.select(F.col("nid").alias("doc_a"), F.col("nvec").alias("va"), "bucket")
    b = base.select(F.col("nid").alias("doc_b"), F.col("nvec").alias("vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("doc_a") < F.col("doc_b"))
    cos = F.round(similarity.cosine(F.col("va"), F.col("vb")), similarity.ROUND)
    return pairs.select("doc_a", "doc_b", cos.alias("cos")).filter(F.col("cos") >= 0.3)


@query(
    "term_postings",
    f"""
    WITH {_WORDS_CTE},
    t AS (SELECT doc, unnest(list_distinct(words)) AS term FROM base),
    d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY term),
    r AS (SELECT term, doc,
                 ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc) AS rn
          FROM t),
    p AS (SELECT term, string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings
          FROM r WHERE rn <= 16 GROUP BY term)
    SELECT d.term, d.df, p.postings FROM d JOIN p USING (term)
    """,
)
def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index report: per term, document frequency and the 16
    smallest doc ids as a posting-list string."""
    from ocr_spark.functions.curation import build_postings

    return build_postings(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text", max_postings=16)


_BM25_TERMS = ("spark", "window", "merge")


@query(
    "bm25_search",
    f"""
    WITH {_WORDS_CTE},
    docs AS (SELECT doc, CAST(len(words) AS BIGINT) AS dl FROM base),
    tot AS (SELECT COUNT(*) AS n,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM docs),
    flat AS (SELECT doc, w FROM (SELECT doc, unnest(words) AS w FROM base)
             WHERE w IN ('spark', 'window', 'merge')),
    tf AS (SELECT doc, w, COUNT(*) AS tf FROM flat GROUP BY doc, w),
    dfq AS (SELECT w, COUNT(*) AS dfq FROM tf GROUP BY w),
    s AS (
      SELECT doc, w,
             ln((n - dfq + CAST(0.5 AS DOUBLE)) / (dfq + CAST(0.5 AS DOUBLE))
                + CAST(1.0 AS DOUBLE))
             * (tf * CAST(2.2 AS DOUBLE))
             / (tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + (CAST(0.75 AS DOUBLE) * dl) / avgdl)) AS s
      FROM tf JOIN dfq USING (w) JOIN docs USING (doc) CROSS JOIN tot),
    p AS (SELECT doc,
                 MAX(CASE WHEN w = 'spark' THEN s END) AS s0,
                 MAX(CASE WHEN w = 'window' THEN s END) AS s1,
                 MAX(CASE WHEN w = 'merge' THEN s END) AS s2
          FROM s GROUP BY doc),
    r AS (SELECT doc,
                 ROUND(CAST(0.0 AS DOUBLE) + COALESCE(s0, 0) + COALESCE(s1, 0)
                       + COALESCE(s2, 0), 6) AS score
          FROM p)
    SELECT doc, score, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS BIGINT) AS rank
    FROM (SELECT * FROM r ORDER BY score DESC, doc LIMIT 20)
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query (spark, window, merge): exact
    integer stats in, fixed-order float combination out (round 6) — the
    retrieval consumer of the index layer."""
    from ocr_spark.functions.curation import bm25_topk

    return bm25_topk(
        _cpu(spark, sf_dir, "documents"), "doc_id", "text",
        terms=_BM25_TERMS, k=20)


def _l2_sql(a: str, b: str) -> str:
    return (f"ROUND(list_aggregate(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 6)")


def _cos_sql(a: str, b: str) -> str:
    dot = (f"list_aggregate(list_transform(list_zip({a}, {b}), "
           "q -> q[1]*q[2]), 'sum')")
    nrm = (f"(sqrt(list_aggregate(list_transform({a}, x -> x*x), 'sum')) * "
           f"sqrt(list_aggregate(list_transform({b}, x -> x*x), 'sum')))")
    return f"ROUND({dot} / {nrm}, 6)"


def _kmeans_assign_cte(n_centroids: int = 8, train_iters: int = 2) -> str:
    """CTE chain ``base`` -> ``cents`` -> ``assigned`` (nid, nvec, cell):
    unrolled fixed-iteration Lloyd's mirroring similarity.train_centroids
    + ivf_assign exactly — int64 fixed-point component sums (order-free),
    mean as the fixed expression round((sum / 2^30) / count, 6), empty
    cells keep the previous centroid. Shared by the ivf_topk and
    semantic_dedup oracles; cents{i} is the centroid table after
    iteration i."""
    fp = "CAST(1073741824.0 AS DOUBLE)"
    train = ""
    for i in range(1, train_iters + 1):
        prev = f"cents{i - 1}"
        train += f"""
    ad{i} AS (
      SELECT b.nid, b.nvec, c.cid, {_l2_sql("b.nvec", "c.cvec")} AS dist
      FROM base b CROSS JOIN {prev} c),
    asg{i} AS (
      SELECT nid, nvec, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY dist, cid) AS rk
        FROM ad{i}) WHERE rk = 1),
    compsrc{i} AS (
      SELECT cell, u.pos AS pos, CAST(round(u.v * {fp}) AS BIGINT) AS q
      FROM (SELECT cell,
                   unnest(list_transform(nvec, (v, i) -> {{'pos': i, 'v': v}})) AS u
            FROM asg{i})),
    comp{i} AS (
      SELECT cell, pos,
             ROUND((CAST(SUM(q) AS DOUBLE) / {fp}) / COUNT(*), 6) AS comp
      FROM compsrc{i} GROUP BY cell, pos),
    newc{i} AS (
      SELECT cell AS cid, list(comp ORDER BY pos) AS cvec
      FROM comp{i} GROUP BY cell),
    cents{i} AS (
      SELECT o.cid, COALESCE(n.cvec, o.cvec) AS cvec
      FROM {prev} o LEFT JOIN newc{i} n ON o.cid = n.cid),"""

    return f"""base AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings),
    cents0 AS (SELECT nid AS cid, nvec AS cvec FROM base WHERE nid < {n_centroids}),{train}
    cents AS (SELECT cid, cvec FROM cents{train_iters}),
    ad AS (
      SELECT b.nid, b.nvec, c.cid, {_l2_sql("b.nvec", "c.cvec")} AS dist
      FROM base b CROSS JOIN cents c),
    assigned AS (
      SELECT nid, nvec, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY dist, cid) AS rk
        FROM ad) WHERE rk = 1)"""


def _ivf_oracle(n_centroids: int = 8, n_queries: int = 10,
                nprobe: int = 2, k: int = 5, train_iters: int = 2) -> str:
    def l2 (a, b):
        return _l2_sql(a, b)

    dot = ("list_aggregate(list_transform(list_zip(p.qvec, a.nvec), "
           "q -> q[1]*q[2]), 'sum')")
    nrm = ("(sqrt(list_aggregate(list_transform(p.qvec, x -> x*x), 'sum')) * "
           "sqrt(list_aggregate(list_transform(a.nvec, x -> x*x), 'sum')))")

    return f"""
    WITH {_kmeans_assign_cte(n_centroids, train_iters)},
    queries AS (SELECT nid AS qid, nvec AS qvec FROM assigned WHERE nid < {n_queries}),
    qd AS (
      SELECT q.qid, q.qvec, c.cid, {l2("q.qvec", "c.cvec")} AS dist
      FROM queries q CROSS JOIN cents c),
    probes AS (
      SELECT qid, qvec, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rk
        FROM qd) WHERE rk <= {nprobe}),
    scored AS (
      SELECT p.qid, a.nid, ROUND({dot} / {nrm}, 6) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell AND a.nid != p.qid)
    SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      FROM scored)
    WHERE rk <= {k}
    """


@query(
    "semantic_dedup",
    f"""
    WITH {_kmeans_assign_cte(n_centroids=16)},
    drops AS (
      SELECT DISTINCT b.nid AS drop_id
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.nid < b.nid
      WHERE {_cos_sql("a.nvec", "b.nvec")} >= 0.3)
    SELECT s.nid, CAST(s.cell AS BIGINT) AS cell,
           CAST(CASE WHEN d.drop_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM assigned s LEFT JOIN drops d ON s.nid = d.drop_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-clustered embedding
    space (same trained quantizer as ivf_topk), exact cosine pairs within
    a cluster only, drop any vector near-duplicating a lower-id
    cluster-mate. Threshold 0.3 fits this synthetic embedding space (the
    real-world default is ~0.97); the operator's pairwise cost is
    per-cell-quadratic, never corpus-quadratic."""
    out = similarity.semantic_dedup(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_centroids=16, threshold=0.3)
    return out.select(F.col("nid"), "cell", "keep")


@query("ivf_topk", _ivf_oracle())
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means-trained coarse quantizer (2 deterministic Lloyd's
    iterations, int64 fixed-point sums so both engines derive bit-identical
    centroids), cell assignment via broadcast fan-out over K centroids,
    nprobe-cell probing, exact cosine only within probed cells — the
    inverted-file scale path next to the sign-LSH one. cosine_topk is the
    exact-recall baseline for the same queries."""
    out = similarity.ivf_topk(_cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select("qid", "nid", "cos", F.col("rank").cast("bigint").alias("rank"))


@query(
    "phrase_search",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
      FROM documents),
    b AS (
      SELECT doc_id,
             unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))])
               AS bigram
      FROM t),
    cf AS (SELECT bigram, COUNT(*) AS corpus_freq FROM b GROUP BY bigram),
    top3 AS (SELECT bigram, corpus_freq FROM cf
             ORDER BY corpus_freq DESC, bigram LIMIT 3)
    SELECT b.bigram, CAST(t3.corpus_freq AS BIGINT) AS corpus_freq,
           b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM b JOIN top3 t3 ON t3.bigram = b.bigram
    GROUP BY b.bigram, t3.corpus_freq, b.doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hottest-phrase retrieval over the documents corpus: the top-3
    adjacent-token bigrams by collection frequency and every document
    occurrence count for them — the phrase-match query a positional
    postings index answers, with the adjacency join expressed row-locally.
    See functions/curation.phrase_topk for the zero-shuffle bigram
    construction and broadcast phrase-list scale shape."""
    from ocr_spark.functions.curation import phrase_topk

    return phrase_topk(_cpu(spark, sf_dir, "documents"), "doc_id", "text", 3)


@query(
    "rank_fusion",
    r"""
    WITH sig AS (
      SELECT doc_id AS id,
             CAST(n_chars AS BIGINT) AS s_len,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(list_distinct(
                         string_split_regex(lower(trim(text)), '\s+')))
                  END AS BIGINT) AS s_vocab,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS BIGINT) AS s_alpha
      FROM documents),
    r AS (
      SELECT id,
        CAST(ROW_NUMBER() OVER (ORDER BY s_len DESC, id) AS BIGINT)
          AS rank_s_len,
        CAST(ROW_NUMBER() OVER (ORDER BY s_vocab DESC, id) AS BIGINT)
          AS rank_s_vocab,
        CAST(ROW_NUMBER() OVER (ORDER BY s_alpha DESC, id) AS BIGINT)
          AS rank_s_alpha
      FROM sig)
    SELECT id AS doc_id, rank_s_len, rank_s_vocab, rank_s_alpha,
           CAST(1000000 // (60 + rank_s_len)
                + 1000000 // (60 + rank_s_vocab)
                + 1000000 // (60 + rank_s_alpha) AS BIGINT) AS rrf_micro
    FROM r
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of three incomparable quality signals
    (length, distinct-token vocabulary, alpha-char purity) into one
    integer curation score — exact global ranks WITHOUT a global sort
    (histogram n_gt + value-partitioned row_number). See
    functions/curation.rrf_fusion."""
    from ocr_spark.functions.curation import rrf_fusion

    t = F.trim(F.col("text"))
    sig = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("s_len"),
        F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.size(F.array_distinct(F.split(F.lower(t), r"\s+")))
        ).alias("s_vocab"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
        ).alias("s_alpha"),
    )
    return rrf_fusion(
        sig, "doc_id", ["s_len", "s_vocab", "s_alpha"]
    ).select(
        F.col("id").alias("doc_id"),
        "rank_s_len", "rank_s_vocab", "rank_s_alpha", "rrf_micro",
    )


_INT8_TOPK_SQL = """
    SELECT * FROM (
    WITH base AS (
      SELECT vec_id AS nid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings),
    mx AS (SELECT nid, nvec,
                  list_max(list_transform(nvec, x -> abs(x))) AS m
           FROM base),
    codes AS (
      SELECT nid,
             CASE WHEN m > 0
                  THEN list_transform(nvec,
                         x -> CAST(floor(x * CAST(127 AS DOUBLE) / m)
                                   AS BIGINT))
                  ELSE list_transform(nvec, x -> CAST(0 AS BIGINT))
             END AS qv
      FROM mx),
    q AS (SELECT nid AS qid, qv AS qqv FROM codes WHERE nid < 10),
    scored AS (
      SELECT q.qid, c.nid,
             CAST(list_aggregate(
               list_transform(list_zip(q.qqv, c.qv), p -> p[1] * p[2]),
               'sum') AS BIGINT) AS dot_q
      FROM codes c CROSS JOIN q WHERE c.nid != q.qid)
    SELECT qid, nid, dot_q, CAST(rk AS BIGINT) AS rank FROM (
      SELECT qid, nid, dot_q,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot_q DESC, nid) AS rk
      FROM scored)
    WHERE rk <= 5
    )
"""


@query("int8_topk", _INT8_TOPK_SQL)
def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors under max-abs int8 scalar quantization — the 4x
    memory-compression search path with an exact order-free int64 dot
    product. See functions/similarity.int8_topk."""
    out = similarity.int8_topk(
        _cpu(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.select(
        "qid", "nid", "dot_q", F.col("rank").cast("bigint").alias("rank"))


@query(
    "int8_recall",
    f"""
    WITH ex AS (SELECT qid, nid FROM ({_COSINE_TOPK_SQL})),
    qz AS (SELECT qid, nid FROM ({_INT8_TOPK_SQL})),
    hits AS (
      SELECT ex.qid, COUNT(qz.nid) AS n_hits
      FROM ex LEFT JOIN qz ON ex.qid = qz.qid AND ex.nid = qz.nid
      GROUP BY ex.qid)
    SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits * 10000 // 5 AS BIGINT) AS recall_bp
    FROM hits
    """,
)
def q_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the int8-quantized search against the
    brute-force float cosine ground truth — measures what 4x compression
    costs in neighbor quality, inside the correctness gate like ann_eval."""
    emb = _cpu(spark, sf_dir, "embeddings")
    ex = similarity.brute_force_topk(emb, "vec_id", "embedding").select(
        "qid", "nid")
    qz = similarity.int8_topk(emb, "vec_id", "embedding").select(
        F.col("qid").alias("zqid"), F.col("nid").alias("znid"))
    hits = (
        ex.join(qz, (ex["qid"] == qz["zqid"]) & (ex["nid"] == qz["znid"]),
                "left")
        .groupBy("qid")
        .agg(F.count("znid").alias("n_hits"))
    )
    return hits.select(
        "qid", F.col("n_hits").cast("bigint").alias("n_hits"),
        F.expr("CAST(n_hits * 10000 div 5 AS BIGINT)").alias("recall_bp"),
    )


@query(
    "knn_classify",
    f"""
    WITH tk AS ({_INT8_TOPK_SQL}),
    lab AS (SELECT vec_id, label FROM embeddings),
    votes AS (
      SELECT tk.qid, lab.label, COUNT(*) AS cnt
      FROM tk JOIN lab ON lab.vec_id = tk.nid
      GROUP BY tk.qid, lab.label),
    best AS (
      SELECT qid, MAX(cnt) AS mc FROM votes GROUP BY qid),
    pred AS (
      SELECT v.qid,
             MIN(CASE WHEN v.cnt = b.mc THEN v.label END) AS pred_label,
             MAX(b.mc) AS n_votes
      FROM votes v JOIN best b ON b.qid = v.qid
      GROUP BY v.qid)
    SELECT p.qid, CAST(t.label AS INT) AS true_label,
           CAST(p.pred_label AS INT) AS pred_label,
           CAST(p.n_votes AS BIGINT) AS n_votes,
           CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END
                AS INT) AS correct
    FROM pred p JOIN lab t ON t.vec_id = p.qid
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification eval over the embedding table:
    each query vector's top-5 neighbors under the exact int8-quantized
    dot product (self excluded) vote with their labels — most votes
    wins, ties to the smallest label — scored against the query's true
    label. The end-to-end eval that tells you whether the embedding
    space actually separates the classes the labels claim, sitting on
    the SAME candidate generator as int8_topk/int8_recall so the whole
    retrieval→classify→evaluate chain is one verified path. Neighbor
    scoring is the broadcast-query codegen'd int64 fold; the vote is a
    (query, label)-keyed agg + struct argmax."""
    emb = _cpu(spark, sf_dir, "embeddings")
    tk = similarity.int8_topk(emb, "vec_id", "embedding")
    lab = emb.select("vec_id", "label")
    votes = (tk.join(lab.select(F.col("vec_id").alias("nid"),
                                F.col("label").alias("nlabel")), "nid")
             .groupBy("qid", "nlabel")
             .agg(F.count(F.lit(1)).alias("cnt")))
    pred = (votes.groupBy("qid")
            .agg(F.max(F.struct(F.col("cnt"),
                                (-F.col("nlabel")).alias("nl")))
                 .alias("b"))
            .select("qid", (-F.col("b.nl")).cast("int")
                    .alias("pred_label"),
                    F.col("b.cnt").cast("bigint").alias("n_votes")))
    return (pred.join(lab.select(F.col("vec_id").alias("qid"),
                                 F.col("label").alias("true_label")),
                      "qid")
            .select("qid", F.col("true_label").cast("int")
                    .alias("true_label"), "pred_label", "n_votes",
                    F.expr("CAST(CASE WHEN pred_label = true_label"
                           " THEN 1 ELSE 0 END AS INT)")
                    .alias("correct")))


@query(
    "cluster_purity",
    f"""
    WITH {_kmeans_assign_cte()},
    lab AS (SELECT vec_id, label FROM embeddings),
    cl AS (
      SELECT a.cell, l.label, CAST(COUNT(*) AS BIGINT) AS c
      FROM assigned a JOIN lab l ON l.vec_id = a.nid
      GROUP BY a.cell, l.label),
    tot AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n FROM cl
            GROUP BY cell),
    mx AS (SELECT cell, MAX(c) AS mc FROM cl GROUP BY cell),
    maj AS (
      SELECT cl.cell,
             MIN(CASE WHEN cl.c = mx.mc THEN cl.label END)
               AS majority_label,
             MAX(mx.mc) AS n_majority
      FROM cl JOIN mx ON mx.cell = cl.cell
      GROUP BY cl.cell)
    SELECT maj.cell,
           tot.n AS n_members,
           CAST(maj.majority_label AS INT) AS majority_label,
           CAST(maj.n_majority AS BIGINT) AS n_majority,
           CAST(maj.n_majority * 10000 // tot.n AS BIGINT) AS purity_bp
    FROM maj JOIN tot ON tot.cell = maj.cell
    """,
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the k-means-trained IVF cells: per cell, the
    majority label's share in exact bp (ties to the smallest label) —
    the unsupervised-vs-supervised agreement check that tells you
    whether the coarse quantizer's geometry respects the label
    structure (high purity → cluster-level curation decisions like
    SemDeDup pruning are safe; low purity → the embedding space mixes
    classes and per-cluster ops will bleed). Reuses the exact trained
    assignment of ivf_topk, so the audited object IS the production
    quantizer. One id-keyed label join + cell-grain aggregates."""
    emb = _cpu(spark, sf_dir, "embeddings")
    cents = similarity.train_centroids(emb, "vec_id", "embedding")
    asg = similarity.ivf_assign(emb, "vec_id", "embedding",
                                centroids=cents)
    lab = emb.select(F.col("vec_id").alias("nid"), "label")
    cl = (asg.join(lab, "nid")
          .groupBy("cell", "label")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = cl.groupBy("cell").agg(F.sum("c").cast("bigint").alias("n"))
    maj = (cl.groupBy("cell")
           .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))
                .alias("b"))
           .select("cell", (-F.col("b.nl")).cast("int")
                   .alias("majority_label"),
                   F.col("b.c").cast("bigint").alias("n_majority")))
    return (maj.join(tot, "cell")
            .select("cell", F.col("n").alias("n_members"),
                    "majority_label", "n_majority",
                    F.expr("n_majority * 10000 div n").cast("bigint")
                    .alias("purity_bp")))


@query(
    "sparse_dot_topk",
    """
    WITH tok AS (
      SELECT doc_id AS doc,
             unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    tf AS (SELECT doc, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE w <> '' GROUP BY doc, w),
    nd AS (SELECT CAST(COUNT(DISTINCT doc) AS BIGINT) AS n FROM tf),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf
           GROUP BY w),
    wt AS (
      SELECT tf.doc, tf.w,
             tf.tf * CAST(ROUND(ln(CAST(nd.n AS DOUBLE) / df.df)
                     * 1000000) AS BIGINT) AS wgt
      FROM tf JOIN df ON df.w = tf.w CROSS JOIN nd),
    q AS (SELECT doc AS qdoc, w, wgt AS qw FROM wt WHERE doc < 10),
    partials AS (
      SELECT q.qdoc, wt.doc AS ndoc,
             CAST(SUM(q.qw * wt.wgt) AS BIGINT) AS dot
      FROM q JOIN wt ON wt.w = q.w AND wt.doc != q.qdoc
      GROUP BY q.qdoc, wt.doc),
    ranked AS (
      SELECT qdoc, ndoc, dot,
             ROW_NUMBER() OVER (PARTITION BY qdoc
                                ORDER BY dot DESC, ndoc) AS rk
      FROM partials)
    SELECT qdoc, ndoc, dot, CAST(rk AS BIGINT) AS rank
    FROM ranked WHERE rk <= 5
    """,
)
def q_sparse_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF retrieval: top-5 neighbors per query doc by the
    exact integer dot product of idf-micro-weighted term vectors,
    computed THROUGH the inverted index — the term-keyed join only
    touches (query term, posting) pairs, so cost is bounded by posting
    lengths, never docs². The sparse companion to the dense paths
    (brute/IVF/LSH/int8): same top-k contract, same determinism (idf
    as micro-nats, ties to the lower doc id), int64 headroom documented
    at ~5e17 for 100 shared 14-micro-idf terms. BM25 ranks with
    saturation; this is the raw-dot baseline beside it."""
    docs = _cpu(spark, sf_dir, "documents")
    tok = (docs.select(F.col("doc_id").alias("doc"),
                       F.explode(F.split(F.lower("text"), " "))
                       .alias("w"))
           .filter(F.col("w") != ""))
    tf = tok.groupBy("doc", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"))
    nd = tf.agg(F.countDistinct("doc").cast("bigint").alias("n"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint")
                             .alias("df"))
    wt = (tf.join(df, "w").crossJoin(F.broadcast(nd))
          .select("doc", "w",
                  (F.col("tf") * F.round(
                      F.log(F.col("n").cast("double") / F.col("df"))
                      * 1000000).cast("bigint")).alias("wgt")))
    q = (wt.filter(F.col("doc") < 10)
         .select(F.col("doc").alias("qdoc"), "w",
                 F.col("wgt").alias("qw")))
    partials = (q.join(wt.select(F.col("doc").alias("ndoc"), "w",
                                 "wgt"), "w")
                .filter(F.col("ndoc") != F.col("qdoc"))
                .groupBy("qdoc", "ndoc")
                .agg(F.sum(F.col("qw") * F.col("wgt")).cast("bigint")
                     .alias("dot")))
    wnd = Window.partitionBy("qdoc").orderBy(F.col("dot").desc(),
                                             "ndoc")
    return (partials.select("qdoc", "ndoc", "dot",
                            F.row_number().over(wnd).alias("rk"))
            .filter(F.col("rk") <= 5)
            .select("qdoc", "ndoc", "dot",
                    F.col("rk").cast("bigint").alias("rank")))
