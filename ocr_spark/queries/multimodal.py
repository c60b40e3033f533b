"""Multimodal columns: binary payloads and typed metadata through
``mapInPandas`` (the decode stage is a deterministic byte-derived stand-in;
the Spark plumbing — schema, batching, flat-map frame sampling — is the
production path), perceptual-hash near-dup and image/alt-text pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.casespec import case_col
from ocr_spark.functions.dedup import DEFAULT_MAX_BUCKET
from ocr_spark.queries.registry import _DOC_ID, _cpu, _docs, _docs_sql, query


def _image_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary payload table derived from documents (no external
    data): payload = sha256 bytes of the text; small per-doc dimensions."""
    return _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(F.sha2(F.col("text"), 256)).alias("payload"),
        (16 + F.col("doc_id") % 17).cast("int").alias("width"),
        (16 + F.col("doc_id") % 13).cast("int").alias("height"),
        F.lit("fake-rgb").alias("codec"),
    )


@query(
    "image_metadata",
    """
    SELECT doc_id, 'image' AS modality,
           CAST(16 + doc_id % 17 AS INTEGER) AS width,
           CAST(16 + doc_id % 13 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           'fake-rgb' AS codec
    FROM documents
    """,
)
def q_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction; payload bytes never leave the Arrow stage."""
    from ocr_spark.operators.multimodal import image_metadata

    return image_metadata(_image_payload_df(spark, sf_dir))


# The multimodal fake decode is closed-form over sha256 hex text (see
# operators/multimodal.py docstring), so DuckDB reproduces every value:
# seed byte m of doc = byte m of sha256(sha256(text)), pixel (y,x) channel c
# reads seed byte (3*(y*w+x)+c) % 32, and all float outputs are fixed final
# expressions over exact integer sums.
_HEXMAP_SQL = "SELECT lower(lpad(to_hex(v), 2, '0')) AS hh, v FROM range(0, 256) t(v)"
_CHAN_SQL = "SELECT 0 AS c, 299 AS coef UNION ALL SELECT 1, 587 UNION ALL SELECT 2, 114"
_IMG_SQL = """
  SELECT doc_id, sha256(sha256(text)) AS seedhex,
         16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
  FROM documents
"""

# Integer-milliluma pixels of a seedhex-tiled image; expects a CTE `img`
# with (doc_id, seedhex, w, h [, fi]).
def _pixel_sql(extra_key: str = "") -> str:
    key = f"{extra_key}, " if extra_key else ""
    return f"""
  SELECT i.doc_id, {key}i.w, i.h, gy.y, gx.x,
         CAST(SUM(ch.coef * hm.v) AS BIGINT) AS L
  FROM img i
  JOIN range(0, 32) gy(y) ON gy.y < i.h
  JOIN range(0, 32) gx(x) ON gx.x < i.w
  JOIN ({_CHAN_SQL}) ch ON true
  JOIN hexmap hm
    ON hm.hh = substr(i.seedhex, 2 * ((3 * (gy.y * i.w + gx.x) + ch.c) % 32) + 1, 2)
  GROUP BY i.doc_id, {key}i.w, i.h, gy.y, gx.x
"""


# 8x8 average-hash nibbles from pixel CTE `pxb` (cell-mean > global-mean as
# the exact integer comparison block_sum*n > total*block_size — the same
# definition as multimodal._phash8).
def _phash_sql(key: str) -> str:
    return f"""
stats AS (
  SELECT {key}, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(L) AS BIGINT) AS sl,
         CAST(SUM(L * L) AS BIGINT) AS sl2, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h
  FROM pxb GROUP BY {key}
),
cells AS (
  SELECT {key}, ((y + 1) * 8 + h - 1) // h - 1 AS ci, ((x + 1) * 8 + w - 1) // w - 1 AS cj,
         CAST(SUM(L) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pxb GROUP BY {key}, ci, cj
),
bits AS (
  SELECT c.*, c.ci * 8 + c.cj AS k,
         CASE WHEN c.s * st.n > st.sl * c.cnt THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN stats st USING ({key})
),
nibs AS (
  SELECT {key}, k // 4 AS m,
         CAST(SUM(bit * CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) AS INTEGER) AS d
  FROM bits GROUP BY {key}, m
),
ph AS (
  SELECT {key}, string_agg(substr('0123456789abcdef', d + 1, 1), '' ORDER BY m) AS phash
  FROM nibs GROUP BY {key}
)
"""


def _image_features_oracle() -> str:
    return f"""
    WITH hexmap AS ({_HEXMAP_SQL}),
    img AS ({_IMG_SQL}),
    pxb AS ({_pixel_sql()}),
    {_phash_sql("doc_id")},
    diffs AS (
      SELECT doc_id,
             ABS(L - LAG(L) OVER (PARTITION BY doc_id, y ORDER BY x)) AS dxv,
             ABS(L - LAG(L) OVER (PARTITION BY doc_id, x ORDER BY y)) AS dyv
      FROM pxb
    ),
    edge AS (
      SELECT doc_id, CAST(SUM(dxv) AS BIGINT) AS sdx, CAST(SUM(dyv) AS BIGINT) AS sdy
      FROM diffs GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.w AS INTEGER) AS width, CAST(s.h AS INTEGER) AS height,
           s.sl / s.n / CAST(1000 AS DOUBLE) AS mean_luma,
           sqrt(greatest(s.sl2 / s.n / CAST(1000000 AS DOUBLE)
                - (s.sl / s.n / CAST(1000 AS DOUBLE)) * (s.sl / s.n / CAST(1000 AS DOUBLE)),
                CAST(0 AS DOUBLE))) AS std_luma,
           e.sdx / (s.h * (s.w - 1)) / CAST(1000 AS DOUBLE)
             + e.sdy / ((s.h - 1) * s.w) / CAST(1000 AS DOUBLE) AS edge_energy,
           ph.phash
    FROM stats s JOIN edge e USING (doc_id) JOIN ph USING (doc_id)
    """


@query("image_features", _image_features_oracle())
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> luma stats + edge energy + 8x8 perceptual hash."""
    from ocr_spark.operators.multimodal import image_features

    return image_features(_image_payload_df(spark, sf_dir))


def _image_resize_oracle() -> str:
    return f"""
    WITH img AS ({_IMG_SQL}),
    outb AS (
      SELECT i.doc_id, oy.v AS oy, ox.v AS ox, ch.c AS c,
             substr(i.seedhex,
                    2 * ((3 * (((oy.v * i.h) // 8) * i.w + (ox.v * i.w) // 8) + ch.c) % 32) + 1,
                    2) AS pair
      FROM img i, range(0, 8) oy(v), range(0, 8) ox(v), ({_CHAN_SQL}) ch
    ),
    hx AS (
      SELECT doc_id, string_agg(pair, '' ORDER BY oy, ox, c) AS hexstr
      FROM outb GROUP BY doc_id
    )
    SELECT doc_id, CAST(8 AS INTEGER) AS out_width, CAST(8 AS INTEGER) AS out_height,
           CAST(192 AS INTEGER) AS out_bytes, substr(sha256(hexstr), 1, 16) AS checksum
    FROM hx
    """


@query("image_resize", _image_resize_oracle())
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize kernel; emits dimensions + checksum."""
    from ocr_spark.operators.multimodal import image_resize

    return image_resize(_image_payload_df(spark, sf_dir), 8, 8)


def _video_frame_oracle() -> str:
    # Frame fi's seed hashes payload.hex() || fi as 4 little-endian hex bytes
    # (fi < 256 here, so the suffix is lpad(hex(fi)) || '000000').
    return f"""
    WITH hexmap AS ({_HEXMAP_SQL}),
    img AS (
      SELECT doc_id,
             sha256(sha256(text) || lower(lpad(to_hex(f.v), 2, '0')) || '000000') AS seedhex,
             f.v AS fi, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
      FROM documents
      JOIN range(0, 24) f(v) ON f.v < 5 + doc_id % 20 AND f.v % 5 = 0
    ),
    pxb AS ({_pixel_sql("i.fi")}),
    {_phash_sql("doc_id, fi")}
    SELECT doc_id, CAST(fi AS INTEGER) AS frame_index, phash AS frame_phash
    FROM ph
    """


@query("video_frame_sample", _video_frame_oracle())
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-Nth-frame sampling (flat-map: >1 output row per video)."""
    from ocr_spark.operators.multimodal import video_frame_sample

    vids = _image_payload_df(spark, sf_dir).withColumns({
        "n_frames": (5 + F.col("doc_id") % 20).cast("int"),
        "codec": F.lit("fake-video"),
    })
    return video_frame_sample(vids, every_n=5)


def _audio_features_oracle() -> str:
    return f"""
    WITH hexmap AS ({_HEXMAP_SQL}),
    aud AS (
      SELECT doc_id, sha256(sha256(text)) AS seedhex, 1000 + doc_id % 3000 AS n
      FROM documents
    ),
    sv AS (
      SELECT a.doc_id, a.n, k.v AS k,
             CASE WHEN b0.v + 256 * b1.v >= 32768
                  THEN b0.v + 256 * b1.v - 65536
                  ELSE b0.v + 256 * b1.v END AS v
      FROM aud a
      JOIN range(0, 4000) k(v) ON k.v < a.n
      JOIN hexmap b0 ON b0.hh = substr(a.seedhex, 2 * ((2 * k.v) % 32) + 1, 2)
      JOIN hexmap b1 ON b1.hh = substr(a.seedhex, 2 * ((2 * k.v + 1) % 32) + 1, 2)
    ),
    svl AS (
      SELECT doc_id, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
      FROM sv
    ),
    zc AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN (v < 0) != (pv < 0) THEN 1 ELSE 0 END) AS INTEGER) AS zcnt
      FROM svl GROUP BY doc_id
    ),
    st AS (
      SELECT doc_id, CAST(ANY_VALUE(n) AS BIGINT) AS n, CAST(SUM(v * v) AS BIGINT) AS sv2,
             CAST(SUM(CASE WHEN ABS(v) >= 32767 THEN 1 ELSE 0 END) AS BIGINT) AS nclip
      FROM sv GROUP BY doc_id
    )
    SELECT st.doc_id, CAST(st.n AS INTEGER) AS n_samples,
           sqrt(st.sv2 / st.n) AS rms,
           zc.zcnt AS zero_crossings,
           st.nclip / st.n AS clip_ratio
    FROM st JOIN zc USING (doc_id)
    """


@query("audio_features", _audio_features_oracle())
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM decode -> RMS / zero-crossings / clip ratio."""
    from ocr_spark.operators.multimodal import audio_features

    aud = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(F.sha2(F.col("text"), 256)).alias("payload"),
        (1000 + F.col("doc_id") % 3000).cast("int").alias("n_samples"),
        F.lit("fake-pcm").alias("codec"),
    )
    return audio_features(aud)


@query(
    "image_phash_pairs",
    f"""
    SELECT * FROM (
    WITH hexmap AS ({_HEXMAP_SQL}),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
    img AS (
      SELECT doc_id, sha256(sha256(text)) AS seedhex,
             16 + (doc_id % 400000) % 17 AS w,
             16 + (doc_id % 400000) % 13 AS h
      FROM corpus),
    pxb AS ({_pixel_sql()}),
    {_phash_sql("doc_id")},
    b0 AS (SELECT doc_id AS doc, phash, unnest(range(0, 4)) AS band FROM ph),
    bb AS (SELECT doc, band, substr(phash, 1 + band * 4, 4) AS sigb FROM b0),
    bs AS (SELECT band, sigb FROM bb GROUP BY 1, 2
           HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
    capped AS (SELECT bb.* FROM bb JOIN bs USING (band, sigb)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
      FROM capped a JOIN capped b2
        ON a.band = b2.band AND a.sigb = b2.sigb AND a.doc < b2.doc),
    hs AS (SELECT doc_id AS doc,
                  ('0x' || substr(phash, 1, 8))::BIGINT AS hi,
                  ('0x' || substr(phash, 9, 8))::BIGINT AS lo FROM ph)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS hamming
    FROM cand JOIN hs a ON a.doc = cand.doc_a JOIN hs b ON b.doc = cand.doc_b
    ) WHERE hamming <= 3
    """,
)
def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image pairs: image_features' 64-bit phash fed
    into banded-Hamming pairing over a payload corpus with injected exact
    re-uploads (doc_id+400000, same bytes and dims) — re-uploads land at
    hamming 0; random 16-bit band collisions are rejected by the verify."""
    from ocr_spark.functions.dedup import fingerprint_hamming_pairs
    from ocr_spark.operators.multimodal import image_features

    docs = _cpu(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 400000).alias("doc_id"), "text"))
    payload = corpus.select(
        "doc_id",
        F.unhex(F.sha2(F.col("text"), 256)).alias("payload"),
        (16 + (F.col("doc_id") % 400000) % 17).cast("int").alias("width"),
        (16 + (F.col("doc_id") % 400000) % 13).cast("int").alias("height"),
        F.lit("fake-rgb").alias("codec"),
    )
    feats = image_features(payload).select("doc_id", "phash")
    return fingerprint_hamming_pairs(feats, "doc_id", "phash")


_SRCSET_HTML = (
    ['<img srcset="https://i.com/a', 7, ".jpg 480w, https://i.com/b", 7,
     '.jpg 800w" src="x.jpg">'],
    ['<img srcset="https://i.com/c', 3, '.jpg 320w">'],
    ['<img src="plain.jpg">'],
    ['<img srcset="https://i.com/d.jpg 1x, https://i.com/e.jpg 2x">'],
    ['<IMG SRCSET="https://i.com/f', 2, ".jpg 100w, https://i.com/g", 2,
     '.jpg 1600w, https://i.com/h.jpg 2x">'],
)
_SRCSET_HTML_SQL = _docs_sql(_SRCSET_HTML, "html")


@query(
    "srcset_parse",
    f"""
    WITH u AS ({_SRCSET_HTML_SQL}),
    s AS (
      SELECT doc,
             regexp_extract(html, '(?i)srcset\\s*=\\s*"([^"]*)"', 1) AS ss
      FROM u),
    cand AS (
      SELECT doc,
             unnest(regexp_extract_all(ss, '([^\\s,]+)\\s+([0-9]+)w', 1))
               AS url,
             CAST(unnest(regexp_extract_all(ss, '([^\\s,]+)\\s+([0-9]+)w', 2))
                  AS BIGINT) AS w
      FROM s)
    SELECT doc,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           arg_max(url, w) AS best_url,
           CAST(MAX(w) AS BIGINT) AS best_width
    FROM cand GROUP BY doc
    """,
)
def q_srcset_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Responsive-image srcset resolution over synthetic html: multi-
    candidate width descriptors, single candidate, density-only (emits
    nothing), no srcset, uppercase attribute with mixed descriptors.
    Widths are unique within a page so the argmax is total either way;
    the Spark side is a struct-MAX (no window). See
    functions/curation.srcset_best."""
    from ocr_spark.functions.curation import srcset_best

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _SRCSET_HTML).alias("html"))
    return srcset_best(docs, "doc_id", "html")


_IMG_HTML = (
    ['<img src="/a', 5, '.jpg" alt="A red fox in the snow"><p>text</p><img '
     'src="/b.png" alt="Chart of results">'],
    ['<img src="/spacer.gif" alt=""><img src="/logo.svg">'],
    ["<p>no images here ", _DOC_ID, "</p>"],
    ['<img alt="Portrait of the author" src="/p', 3, '.webp">'],
)
_IMG_HTML_SQL = _docs_sql(_IMG_HTML, "html")


@query(
    "img_alt_pairs",
    f"""
    WITH u AS ({_IMG_HTML_SQL}),
    tags AS (
      SELECT doc, unnest(regexp_extract_all(html, '<img [^>]*>')) AS tag
      FROM u),
    pairs AS (
      SELECT doc,
             nullif(regexp_extract(tag, 'src="([^"]*)"', 1), '') AS src,
             nullif(regexp_extract(tag, 'alt="([^"]*)"', 1), '') AS alt
      FROM tags)
    SELECT doc, src, alt,
           CAST(len(regexp_extract_all(alt, '[^ ]+')) AS BIGINT)
             AS alt_words
    FROM pairs
    WHERE alt IS NOT NULL
    """,
)
def q_img_alt_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image–alt-text pair extraction — the raw material for
    image-caption training sets (LAION-style pairing starts exactly
    here: every <img> with a non-empty alt becomes a candidate
    (image-url, caption) row). Attribute order must not matter (case 3
    puts alt before src) and empty/missing alts drop. One explode per
    page bounded by its img count; downstream joins on src to the fetch
    table. Per-pair caption word count feeds the alt-quality filter."""
    docs = _docs(spark, sf_dir, _IMG_HTML, "html")
    tags = docs.select(
        "doc",
        F.explode(F.regexp_extract_all(
            "html", F.lit("<img [^>]*>"), F.lit(0))).alias("tag"))
    pairs = tags.select(
        "doc",
        F.nullif(F.regexp_extract("tag", 'src="([^"]*)"', 1), F.lit(""))
        .alias("src"),
        F.nullif(F.regexp_extract("tag", 'alt="([^"]*)"', 1), F.lit(""))
        .alias("alt"))
    return pairs.filter(F.col("alt").isNotNull()).select(
        "doc", "src", "alt",
        F.size(F.regexp_extract_all("alt", F.lit("[^ ]+"), F.lit(0)))
        .cast("bigint").alias("alt_words"))
