"""Web pages, URLs and crawls: HTML structure and metadata extraction,
URL canonicalization and host statistics, robots/noindex/blocklist gates,
page-type detectors, crawl scheduling and recrawl analytics, and raw source
formats (WARC, JSONL, access logs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.casespec import case_col, case_sql
from ocr_spark.queries.registry import (
    _DOC_ID,
    _TEXT,
    _cpu,
    _docs,
    _docs_sql,
    _t,
    query,
)


_URL = (
    ["https://www", 5, ".site", 97, ".co.in/a/b", 7, "?q=1"],
    ["http://cdn", 11, ".example.org:8080/x/y/z"],
    ["HTTPS://UP", 13, ".Example.COM/a"],
    ["http://[2001:db8::", 9, "]:8080/x/y"],
    ["https://host", 23, ".io/"],
)
_URL_SQL = f"SELECT doc_id, {case_sql('doc_id', _URL)} AS url FROM documents"


@query(
    "url_host_stats",
    f"""
    WITH u AS ({_URL_SQL}),
    p AS (
      SELECT lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path
      FROM u),
    d AS (
      SELECT host, regexp_extract(host, '\\.([a-z]+)$', 1) AS tld,
             CAST(length(path) - length(replace(path, '/', '')) AS BIGINT) AS depth
      FROM p)
    SELECT host, tld, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(depth) AS BIGINT) AS sum_depth,
           CAST(MAX(depth) AS BIGINT) AS max_depth
    FROM d GROUP BY host, tld
    """,
)
def q_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl statistics over deterministic synthetic urls (hosts
    with ports, query strings, country TLDs, bare roots, uppercase schemes
    and mixed-case hosts, IPv6 bracket literals with ports)."""
    from ocr_spark.functions.curation import url_host_stats

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _URL).alias("url"))
    return url_host_stats(docs, "url")


_MESSY_URL = (
    ["HTTP://Site", 7, ".COM:80/A/b?x=1&utm_source=feed#frag"],
    ["https://host", 5, ".org:443?utm_campaign=a&utm_medium=b"],
    ["https://h", 9, ".net:8443/p?gclid=abc&q=2"],
    ["http://plain", 11, ".io"],
    ["http://[2001:db8::", 3, "]:80/v?fbclid=z"],
    ["https://ok", 13, ".co/path/q?a=1&b=2"],
)
_MESSY_URL_SQL = _docs_sql(_MESSY_URL, "url")

_TRACKING_SQL = "(utm_[a-z0-9]+|fbclid|gclid|msclkid)"


@query(
    "canonical_urls",
    f"""
    WITH u AS ({_MESSY_URL_SQL}),
    s1 AS (SELECT doc, url, regexp_replace(url, '#.*', '') AS c FROM u),
    s2 AS (SELECT doc, url,
                  regexp_replace(regexp_replace(
                    lower(regexp_extract(c, '(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)', 1)),
                    '^(http://.*):80$', '\\1'),
                    '^(https://.*):443$', '\\1')
                  || regexp_replace(c, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', '') AS c
           FROM s1),
    s3 AS (SELECT doc, url,
                  regexp_replace(regexp_replace(regexp_replace(
                    c, '&{_TRACKING_SQL}=[^&#]*', '', 'g'),
                    '\\?{_TRACKING_SQL}=[^&#]*&?', '?'),
                    '\\?$', '') AS c
           FROM s2)
    SELECT doc, url,
           regexp_replace(regexp_replace(
             c, '^([a-z][a-z0-9+.-]*://[^/?#]+)$', '\\1/'),
             '^([a-z][a-z0-9+.-]*://[^/?#]+)\\?', '\\1/?') AS canon
    FROM s3
    """,
)
def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministic messy urls (fragments,
    uppercase scheme/host, default and non-default ports, tracking params in
    every position, bare authorities, IPv6 literals) — the projection that
    precedes URL-level dedup."""
    from ocr_spark.functions.curation import canonical_url

    docs = _docs(spark, sf_dir, _MESSY_URL, "url")
    return docs.select("doc", "url", canonical_url(F.col("url")).alias("canon"))


_BLOCKLIST_DOMAINS = [
    "track3.com", "example.org", "bad.co.in", "2001:db8::7", "site.io",
]

_BLOCKLIST_URL = (
    ["https://a.b.track", 7, ".com/x"],
    ["http://example.org/p"],
    ["HTTPS://CDN", 11, ".Example.ORG:8080/q"],
    ["http://notexample.org/r"],
    ["http://[2001:db8::", 9, "]/v"],
    ["https://ok", 13, ".net/"],
)
_BLOCKLIST_URL_SQL = _docs_sql(_BLOCKLIST_URL, "url")


@query(
    "blocklist_filter",
    f"""
    WITH u AS ({_BLOCKLIST_URL_SQL}),
    h AS (
      SELECT doc, lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host
      FROM u),
    bl(domain) AS (VALUES {", ".join(f"('{d}')" for d in _BLOCKLIST_DOMAINS)}),
    m AS (
      SELECT doc, host,
             (SELECT MIN(domain) FROM bl
              WHERE host = domain OR host LIKE ('%.' || domain)) AS matched_domain
      FROM h)
    SELECT doc, host,
           CAST(matched_domain IS NOT NULL AS INT) AS blocked,
           matched_domain
    FROM m
    """,
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate with parent-domain suffix semantics over
    deterministic synthetic urls: exact host hits, subdomain hits (incl.
    mixed case + port), the notexample.org suffix-boundary trap, and IPv6
    bracket-literal exact matches. The blocklist rides in as a DataFrame
    (the 100 TB-shape API — a broadcast dimension, not a literal)."""
    from ocr_spark.functions.curation import blocklist_filter

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _BLOCKLIST_URL).alias("url"))
    bl = spark.createDataFrame(
        [(d,) for d in _BLOCKLIST_DOMAINS], "domain string")
    return blocklist_filter(docs, "doc_id", "url", bl)


@query(
    "host_cap",
    f"""
    WITH u AS ({_URL_SQL}),
    h AS (
      SELECT u.doc_id AS doc,
             lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             CAST(d.n_chars AS BIGINT) AS quality
      FROM u JOIN documents d ON u.doc_id = d.doc_id),
    r AS (
      SELECT doc, host, quality,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY host ORDER BY quality DESC, doc ASC) AS BIGINT) AS rk
      FROM h)
    SELECT doc, host, quality, rk FROM r WHERE rk <= 3
    """,
)
def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host quota: keep the 3 longest documents per host over the
    url_host_stats synthetic urls. The Spark side runs the skew-safe
    two-stage cap; the oracle is the single-window twin, pinning the
    exactness of the shard-then-global decomposition."""
    from ocr_spark.functions.curation import host_cap

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _URL).alias("url"), "n_chars")
    return host_cap(docs, "doc_id", "url", F.col("n_chars"), k=3)


_NOINDEX_HTML = (
    ['<html><head><meta name="robots" content="noindex, '
     'nofollow"></head><body>', _TEXT],
    ['<HTML><META content="NOINDEX" name="ROBOTS"><body>', _TEXT],
    ['<html><meta name="robots" content="index, follow"><p>noindex in body '
     "text", _TEXT],
    ['<html><meta name="googlebot" content="noindex"><body>', _TEXT],
    ["<html><body>", _TEXT],
)
_NOINDEX_HTML_SQL = _docs_sql(_NOINDEX_HTML, "html")


@query(
    "noindex_filter",
    f"""
    WITH u AS ({_NOINDEX_HTML_SQL}),
    t AS (
      SELECT doc,
             regexp_extract(html,
               '(?i)<meta\\b[^>]*name\\s*=\\s*"(?:robots|googlebot)"[^>]*>', 0) AS tag
      FROM u)
    SELECT doc,
           CAST(regexp_matches(tag, '(?i)\\bnoindex\\b') AS INT) AS noindex,
           CAST(regexp_matches(tag, '(?i)\\bnofollow\\b') AS INT) AS nofollow
    FROM t
    """,
)
def q_noindex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-meta exclusion over deterministic synthetic html: directive
    in a robots tag (both attribute orders, any case), an agent-specific
    googlebot tag, an index,follow tag with 'noindex' only in body text
    (must NOT trigger), and a no-meta control."""
    from ocr_spark.functions.curation import noindex_filter

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _NOINDEX_HTML).alias("html"))
    return noindex_filter(docs, "doc_id", "html")


_ROBOTS_RULES = [
    # host, path_prefix, allow
    ("example.org", "/", 0),
    ("example.org", "/public", 1),
    ("example.org", "/public/private", 0),
    ("site.io", "/a", 1),
    ("site.io", "/a/b", 0),
    ("site.io", "/a/b/c", 1),
    ("tie.com", "/x", 0),
    ("tie.com", "/x", 1),
]

_ROBOTS_URL = (
    ["https://example.org/public/page", 5],
    ["https://example.org/public/private/x"],
    ["http://example.org/other"],
    ["https://SITE.io:8080/a/b/c", 3],
    ["http://site.io/a/q?y=1"],
    ["http://tie.com/x", 4],
    ["https://ok", 13, ".net"],
)
_ROBOTS_URL_SQL = _docs_sql(_ROBOTS_URL, "url")


@query(
    "robots_gate",
    f"""
    WITH u AS ({_ROBOTS_URL_SQL}),
    b AS (
      SELECT doc,
             lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             CASE WHEN regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)
             END AS path
      FROM u),
    r(host, prefix, allow) AS (VALUES
      {", ".join(f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES)}),
    c AS (
      SELECT b.doc, r.prefix, r.allow,
             ROW_NUMBER() OVER (
               PARTITION BY b.doc
               ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rn
      FROM b JOIN r ON b.host = r.host
      WHERE substr(b.path, 1, length(r.prefix)) = r.prefix),
    w AS (SELECT doc, prefix, allow FROM c WHERE rn = 1)
    SELECT b.doc, b.host, b.path,
           CAST(COALESCE(w.allow, 1) AS INT) AS allowed,
           w.prefix AS matched_prefix
    FROM b LEFT JOIN w USING (doc)
    """,
)
def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 longest-match robots gate over deterministic synthetic
    urls: nested allow/disallow prefixes both ways round (disallow-all +
    allow-subtree + disallow-sub-subtree), a query-string path, a mixed-case
    host with a port, an equal-length Allow/Disallow tie (Allow must win,
    RFC 9309 §2.2.2), and a no-rules host (default allowed). The parsed
    rules ride in as a DataFrame — the 100 TB-shape API, a broadcast
    dimension."""
    from ocr_spark.functions.curation import robots_gate

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _ROBOTS_URL).alias("url"))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string, allow int")
    return robots_gate(docs, "doc_id", "url", rules)


_REDIRECT_EDGE_SQL = """
    SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
           'u' || CAST(doc_id - 1 AS VARCHAR) AS dst
    FROM documents WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT 'u' || CAST(doc_id AS VARCHAR), 'u' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 100 = 0
"""


@query(
    "redirect_resolve",
    f"""
    WITH RECURSIVE edges AS ({_REDIRECT_EDGE_SQL}),
    e AS (SELECT src, MIN(dst) AS dst FROM edges GROUP BY src),
    walk(src, cur, n) AS (
      SELECT src, dst, 1 FROM e
      UNION
      SELECT w.src, e.dst, w.n + 1
      FROM walk w JOIN e ON w.cur = e.src
      WHERE w.n < 64),
    term AS (
      SELECT DISTINCT w.src, w.cur AS final
      FROM walk w LEFT JOIN e ON w.cur = e.src
      WHERE e.src IS NULL)
    SELECT e.src, term.final,
           CAST(term.src IS NOT NULL AS INT) AS resolved
    FROM e LEFT JOIN term ON e.src = term.src
    """,
)
def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling over a deterministic
    synthetic redirect graph: 9-hop chains down to multiple-of-10
    terminals, self-loop cycles at multiples of 100 (every chain feeding
    one must come back unresolved), and a recursive-CTE DuckDB twin whose
    64-step cap equals the Spark side's 2**6-hop doubling horizon."""
    from ocr_spark.functions.graph import resolve_redirects

    k = F.col("doc_id")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    docs = _cpu(spark, sf_dir, "documents").select("doc_id")
    chain = docs.where(k % 10 != 0).select(
        u(k).alias("src"), u(k - 1).alias("dst"))
    loops = docs.where(k % 100 == 0).select(
        u(k).alias("src"), u(k).alias("dst"))
    return resolve_redirects(chain.unionByName(loops), "src", "dst", rounds=6)


_ANCHOR_HTML = (
    ['<p><a href="https://t', 7, '.com/page">Anchor ', 3, "</a> mid <a "
     'class="x" href="https://hub.com/">Hub link</a></p>'],
    ['<a href="/local">Local</a> <a href="https://hub.com/">Hub ', 2, "</a>"],
    ["plain text, no links at all"],
    ['<a href="https://t', 7, '.com/page"></a>'],
)
_ANCHOR_HTML_SQL = _docs_sql(_ANCHOR_HTML, "html")


@query(
    "anchor_texts",
    f"""
    WITH u AS ({_ANCHOR_HTML_SQL}),
    tags AS (
      SELECT doc, unnest(regexp_extract_all(html,
               '<a\\s[^>]*href="[^"]*"[^>]*>[^<]*</a>')) AS tag
      FROM u),
    l0 AS (
      SELECT doc,
             regexp_extract(tag, 'href="([^"]*)"', 1) AS target,
             trim(regexp_extract(tag, '>([^<]*)</a>', 1)) AS anchor
      FROM tags),
    links AS (SELECT * FROM l0 WHERE regexp_matches(target, '^https?://')),
    pa AS (SELECT target, anchor, COUNT(*) AS cnt FROM links GROUP BY 1, 2),
    rk AS (
      SELECT target, anchor, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY target ORDER BY cnt DESC, anchor ASC) AS rk
      FROM pa),
    top AS (
      SELECT target,
             string_agg(anchor, '|' ORDER BY cnt DESC, anchor ASC) AS top_anchors
      FROM rk WHERE rk <= 3 GROUP BY target),
    st AS (
      SELECT target, CAST(COUNT(*) AS BIGINT) AS n_links,
             CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchor_texts
      FROM links GROUP BY target)
    SELECT st.target, st.n_links, st.n_docs, st.n_anchor_texts,
           COALESCE(top.top_anchors, '') AS top_anchors
    FROM st LEFT JOIN top USING (target)
    """,
)
def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target over deterministic synthetic
    html: multi-link pages, attribute-bearing tags, a relative href that
    must be skipped, link-free pages, and empty anchor texts; top-3 anchor
    phrasings per target with a count-desc-then-text tie-break that the
    oracle's window twin pins exactly."""
    from ocr_spark.functions.curation import anchor_texts

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _ANCHOR_HTML).alias("html"))
    return anchor_texts(docs, "doc_id", "html", top_k=3)


def _meta_paired_sql(tag: str, key_attr: str, key: str, val_attr: str) -> str:
    fwd = (f'(?i)<{tag}\\s[^>]*{key_attr}\\s*=\\s*"{key}"'
           f'[^>]*{val_attr}\\s*=\\s*"([^"]*)"')
    rev = (f'(?i)<{tag}\\s[^>]*{val_attr}\\s*=\\s*"([^"]*)"'
           f'[^>]*{key_attr}\\s*=\\s*"{key}"')
    return (f"CASE WHEN regexp_extract(html, '{fwd}', 1) != '' "
            f"THEN regexp_extract(html, '{fwd}', 1) "
            f"ELSE regexp_extract(html, '{rev}', 1) END")


_META_HTML = (
    ['<html lang="en"><head><meta charset="UTF-8"><title>  Page\n  ', 9, " "
     '</title><meta name="description" content="Desc ', 5, '"><meta '
     'property="og:title" content="OG ', 3, '"><link rel="canonical" '
     'href="https://c.com/p', 7, '"></head><body>x'],
    ['<HTML LANG="EN-us"><META charset=utf-8><META CONTENT="RevDesc ', 4,
     '" NAME="description"><LINK HREF="https://c.com/r" '
     'REL="canonical"><TITLE>Upper ', 2, "</TITLE>"],
    ["plain text, no head metadata at all ", _DOC_ID],
    ['<html><title></title><meta property="og:title" content="Only '
     'OG"><body>'],
    ['<html><meta name="keywords" content="not a description"><title>K ', 3,
     "</title>"],
    ['<html LANG="De"><meta charset="iso-8859-1"><title>T', 4, "</title>"],
)
_META_HTML_SQL = _docs_sql(_META_HTML, "html")


@query(
    "page_metadata",
    f"""
    WITH u AS ({_META_HTML_SQL})
    SELECT doc,
           trim(regexp_replace(regexp_extract(html,
             '(?i)<title[^>]*>([^<]*)</title>', 1), '\\s+', ' ', 'g')) AS title,
           {_meta_paired_sql('meta', 'name', 'description', 'content')} AS description,
           {_meta_paired_sql('meta', 'property', 'og:title', 'content')} AS og_title,
           {_meta_paired_sql('link', 'rel', 'canonical', 'href')} AS canonical,
           lower(regexp_extract(html,
             '(?i)<meta\\s[^>]*charset\\s*=\\s*"?([A-Za-z0-9_-]+)', 1)) AS charset,
           lower(regexp_extract(html,
             '(?i)<html\\s[^>]*lang\\s*=\\s*"([^"]*)"', 1)) AS lang
    FROM u
    """,
)
def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction over deterministic synthetic html: forward
    and reversed attribute orders, uppercase tags, unquoted charset, empty
    titles, multi-line titles needing whitespace collapse, pages with no
    metadata, and a keywords meta that must NOT match description."""
    from ocr_spark.functions.curation import page_metadata

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _META_HTML).alias("html"))
    return page_metadata(docs, "doc_id", "html")


_TABLE_HTML = (
    ['<table class="x"><tr><th>H1</th><th> H2 </th></tr><tr><td>a', 3,
     "</td><td><b>b", 5, "</b></td></tr></table>"],
    ["<TABLE><TR><TD>t1r1c1</TD></TR></TABLE> mid <table><tr><td>x", 2,
     "</td><td></td></tr></table>"],
    ["no tables here ", _DOC_ID],
    ["<table>\n<tr>\n<td> v ", 7, " </td></tr>\n</table>"],
)
_TABLE_HTML_SQL = _docs_sql(_TABLE_HTML, "html")


@query(
    "html_tables",
    f"""
    WITH u AS ({_TABLE_HTML_SQL}),
    t0 AS (SELECT doc, regexp_extract_all(html,
             '(?is)<table[^>]*>(.*?)</table>', 1) AS ts FROM u),
    t1 AS (SELECT doc, ts, unnest(generate_series(1, len(ts))) AS i FROM t0),
    t2 AS (SELECT doc, i - 1 AS tbl, ts[i] AS thtml FROM t1),
    r0 AS (SELECT doc, tbl, regexp_extract_all(thtml,
             '(?is)<tr[^>]*>(.*?)</tr>', 1) AS rs FROM t2),
    r1 AS (SELECT doc, tbl, rs, unnest(generate_series(1, len(rs))) AS j FROM r0),
    r2 AS (SELECT doc, tbl, j - 1 AS "row", rs[j] AS rhtml FROM r1),
    c0 AS (SELECT doc, tbl, "row", regexp_extract_all(rhtml,
             '(?is)<t[dh][^>]*>.*?</t[dh]>', 0) AS cs FROM r2),
    c1 AS (SELECT doc, tbl, "row", cs, unnest(generate_series(1, len(cs))) AS k FROM c0)
    SELECT doc, CAST(tbl AS BIGINT) AS tbl, CAST("row" AS BIGINT) AS "row",
           CAST(k - 1 AS BIGINT) AS col,
           CASE WHEN regexp_matches(cs[k], '(?i)^<th') THEN 1 ELSE 0 END AS is_header,
           trim(regexp_replace(cs[k], '<[^>]*>', '', 'g')) AS cell
    FROM c1
    """,
)
def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table flattening over deterministic synthetic html: header
    cells, inline markup to strip, two tables per page, uppercase tags,
    empty cells, multi-line tables, and table-free pages."""
    from ocr_spark.functions.curation import html_tables

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _TABLE_HTML).alias("html"))
    return html_tables(docs, "doc_id", "html")


_HOST_SQL = ("lower(regexp_replace(regexp_extract(url, "
             "'(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1), "
             "'^\\[|\\]$', '', 'g'))")

_TEMPLATE_URL = (["https://h", 5, ".com/p", _DOC_ID],)
_TEMPLATE_TEXT = (["Cookie banner h", 5, (["\nNAV Menu "], ["\n"]),
                   "\nbody text ", _DOC_ID,
                   (["\nFooter (c) site"], [""], [""])],)
_TEMPLATE_DOCS_SQL = f"""
    SELECT doc_id AS doc, {case_sql('doc_id', _TEMPLATE_URL)} AS url,
           {case_sql('doc_id', _TEMPLATE_TEXT)} AS text
    FROM documents
"""


@query(
    "host_template_lines",
    f"""
    WITH u AS ({_TEMPLATE_DOCS_SQL}),
    b AS (SELECT doc, {_HOST_SQL} AS host, text FROM u),
    ln AS (
      SELECT DISTINCT host, doc, lower(trim(line)) AS line
      FROM b, unnest(string_split(text, chr(10))) AS t(line)
      WHERE lower(trim(line)) != ''),
    lc AS (SELECT host, line, COUNT(*) AS n_docs_line FROM ln GROUP BY 1, 2),
    hc AS (SELECT host, COUNT(DISTINCT doc) AS n_docs_host FROM b GROUP BY 1)
    SELECT lc.host, lc.line,
           CAST(n_docs_line AS BIGINT) AS n_docs_line,
           CAST(n_docs_host AS BIGINT) AS n_docs_host,
           CAST(FLOOR(n_docs_line * 10000 / n_docs_host) AS BIGINT) AS frac_bp
    FROM lc JOIN hc USING (host)
    WHERE n_docs_line >= 2 AND n_docs_line * 10000 >= 5000 * n_docs_host
    """,
)
def q_host_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template detection over a synthetic 5-host corpus where
    every doc carries its host's cookie banner (100%), every second doc a
    nav menu (~50%, straddling the threshold), every third a footer
    (~33%, below), plus a unique body line (never a template)."""
    from ocr_spark.functions.curation import host_template_lines

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(k, _TEMPLATE_URL).alias("url"),
        case_col(k, _TEMPLATE_TEXT).alias("text"))
    return host_template_lines(docs, "doc_id", "url", "text")


_WARC_REQUEST = (
    ["WARC/1.0\nWARC-Type: request\n\nGET /p", _DOC_ID, "\n"], [""], [""])
_WARC_BLOB_SQL = f"""
    SELECT doc_id AS doc,
           'WARC/1.0' || chr(10) || 'WARC-Type: response' || chr(10) ||
           'WARC-Target-URI: https://h' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' || CAST(doc_id AS VARCHAR) || '/0' || chr(10) ||
           'WARC-Date: 2026-01-0' || CAST(1 + doc_id % 9 AS VARCHAR) || 'T00:00:00Z' || chr(10) || chr(10) ||
           'body ' || CAST(doc_id AS VARCHAR) || ' 0 ' || substr(text, 1, 40) || chr(10) ||
           'WARC/1.0' || chr(10) || 'WARC-Type: metadata' || chr(10) ||
           'WARC-Target-URI: https://h' || CAST(doc_id % 7 AS VARCHAR) || '.com/p' || CAST(doc_id AS VARCHAR) || '/1' || chr(10) || chr(10) ||
           'len=' || CAST(length(text) AS VARCHAR) || chr(10) ||
           {case_sql('doc_id', _WARC_REQUEST)} AS blob
    FROM documents
"""


@query(
    "warc_split",
    f"""
    WITH u AS ({_WARC_BLOB_SQL}),
    s AS (SELECT doc, string_split(blob, 'WARC/1.0' || chr(10)) AS parts FROM u),
    e AS (SELECT doc, parts, unnest(generate_series(1, len(parts))) AS i FROM s),
    r AS (SELECT doc, i - 2 AS rec, parts[i] AS body0 FROM e
          WHERE length(trim(parts[i])) > 0)
    SELECT doc, CAST(rec AS BIGINT) AS rec,
           regexp_extract(body0, 'WARC-Type: ([^\n]*)', 1) AS warc_type,
           regexp_extract(body0, 'WARC-Target-URI: ([^\n]*)', 1) AS url,
           regexp_extract(body0, 'WARC-Date: ([^\n]*)', 1) AS ts,
           regexp_extract(body0, '(?s)\n\n(.*)$', 1) AS body
    FROM r
    """,
)
def q_warc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC blob flattening over deterministic synthetic archives: two or
    three records per blob (response + metadata, request on every third),
    a header absent from some records (WARC-Date), multi-line bodies."""
    from ocr_spark.sources.warc import warc_split

    k = F.col("doc_id")
    nl = F.lit("\n")
    host = F.concat(F.lit("https://h"), (k % 7).cast("string"),
                    F.lit(".com/p"), k.cast("string"))
    blob = F.concat(
        F.lit("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: "),
        host, F.lit("/0"), nl,
        F.lit("WARC-Date: 2026-01-0"), (1 + k % 9).cast("string"),
        F.lit("T00:00:00Z\n\nbody "), k.cast("string"), F.lit(" 0 "),
        F.substring("text", 1, 40), nl,
        F.lit("WARC/1.0\nWARC-Type: metadata\nWARC-Target-URI: "),
        host, F.lit("/1"), F.lit("\n\nlen="),
        F.length("text").cast("string"), nl,
        case_col(k, _WARC_REQUEST),
    )
    docs = _cpu(spark, sf_dir, "documents").select("doc_id", blob.alias("blob"))
    return warc_split(docs, "doc_id", "blob")


_HEADING_HTML = (
    ["<h1>Top ", 5, "</h1><p>x</p><h2> Sub <b>", 3, "</b> </h2><h3>deep</h3>"],
    ['<H2 class="t">Upper ', 2, "</H2>"],
    ["no headings ", _DOC_ID],
    ["<h1>Multi\nline ", 7, "</h1>"],
)
_HEADING_HTML_SQL = _docs_sql(_HEADING_HTML, "html")


@query(
    "html_headings",
    f"""
    WITH u AS ({_HEADING_HTML_SQL}),
    t0 AS (SELECT doc, regexp_extract_all(html,
             '(?is)<h([1-6])[^>]*>(.*?)</h[1-6]>', 0) AS hs FROM u),
    t1 AS (SELECT doc, hs, unnest(generate_series(1, len(hs))) AS i FROM t0)
    SELECT doc, CAST(i - 1 AS BIGINT) AS pos,
           CAST(regexp_extract(hs[i], '(?i)^<h([1-6])', 1) AS INTEGER) AS level,
           trim(regexp_replace(regexp_replace(hs[i], '<[^>]*>', '', 'g'),
                '\\s+', ' ', 'g')) AS heading
    FROM t1
    """,
)
def q_html_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outline extraction over deterministic synthetic html: h1-h3 chains,
    uppercase tags, inline markup inside headings, multi-line headings,
    and heading-free pages."""
    from ocr_spark.functions.curation import html_headings

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _HEADING_HTML).alias("html"))
    return html_headings(docs, "doc_id", "html")


_DEPTH_HTML = (
    ["<div><p>a<b>x", 3, '</b></p><img src="s"><p>b</p></div>'],
    ["<div><div><div>deep ", 3, "</div></div></div>"],
    ["plain ", _DOC_ID],
    ["<div><p>unclosed<br/>", 5],
)
_DEPTH_HTML_SQL = _docs_sql(_DEPTH_HTML, "html")

_NON_NESTING_SQL = ("(?i)^<(br|hr|img|meta|link|input|area|base|col|embed"
                    "|source|track|wbr)\\b|/>$")


@query(
    "html_depth_stats",
    f"""
    WITH u AS ({_DEPTH_HTML_SQL}),
    tg AS (SELECT doc, list_filter(
             regexp_extract_all(html, '(?s)</?[a-zA-Z][a-zA-Z0-9]*[^>]*>', 0),
             t -> NOT regexp_matches(t, '{_NON_NESTING_SQL}')) AS tags FROM u),
    e AS (SELECT doc, tags, unnest(generate_series(1, len(tags))) AS i FROM tg),
    d AS (SELECT doc, i,
            CASE WHEN starts_with(tags[i], '</') THEN -1 ELSE 1 END AS delta
          FROM e),
    r AS (SELECT doc, delta,
            SUM(delta) OVER (PARTITION BY doc ORDER BY i) AS depth FROM d),
    agg AS (SELECT doc, GREATEST(MAX(depth), 0) AS m, SUM(delta) AS bal
            FROM r GROUP BY doc)
    SELECT tg.doc, CAST(len(tags) AS BIGINT) AS n_tags,
           CAST(COALESCE(m, 0) AS BIGINT) AS max_depth,
           CAST(COALESCE(bal, 0) AS BIGINT) AS balance
    FROM tg LEFT JOIN agg USING (doc)
    """,
)
def q_html_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM nesting stats over deterministic synthetic html: void elements
    that must not nest, self-closing tags, an unbalanced page (truncation
    signal), triple nesting, and tag-free pages."""
    from ocr_spark.functions.curation import html_depth_stats

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _DEPTH_HTML).alias("html"))
    return html_depth_stats(docs, "doc_id", "html")


_CLEAN_PAGE = ["<html><body>clean page ", _DOC_ID]
_GATE_PAGE_URL = (
    ["https://example.org/other", 3],
    ["https://example.org/public/p", 4],
    ["https://ok", 13, ".net/a"],
    ["https://ok", 13, ".net/b"],
    ["http://tie.com/x", 4],
)
_GATE_PAGE_HTML = (
    _CLEAN_PAGE,
    _CLEAN_PAGE,
    ['<html><meta name="robots" content="noindex"><body>x'],
    _CLEAN_PAGE,
    ["<html><body>noindex appears only in body text"],
)
_GATE_PAGE_SQL = f"""
    SELECT doc_id AS doc, {case_sql('doc_id', _GATE_PAGE_URL)} AS url,
           {case_sql('doc_id', _GATE_PAGE_HTML)} AS html
    FROM documents
"""


@query(
    "crawl_gate",
    f"""
    WITH u AS ({_GATE_PAGE_SQL}),
    b AS (
      SELECT doc,
             lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/:?#]+)', 1),
               '^\\[|\\]$', '', 'g')) AS host,
             CASE WHEN regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)
             END AS path
      FROM u),
    r(host, prefix, allow) AS (VALUES
      {", ".join(f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES)}),
    c AS (
      SELECT b.doc, r.allow,
             ROW_NUMBER() OVER (
               PARTITION BY b.doc
               ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rn
      FROM b JOIN r ON b.host = r.host
      WHERE substr(b.path, 1, length(r.prefix)) = r.prefix),
    rob AS (
      SELECT b.doc, CAST(COALESCE(w.allow, 1) AS INT) AS allowed
      FROM b LEFT JOIN (SELECT doc, allow FROM c WHERE rn = 1) w USING (doc)),
    nx AS (
      SELECT doc,
             CAST(regexp_matches(regexp_extract(html,
               '(?i)<meta\\b[^>]*name\\s*=\\s*"(?:robots|googlebot)"[^>]*>', 0),
               '(?i)\\bnoindex\\b') AS INT) AS noindex
      FROM u),
    bl(domain) AS (VALUES {", ".join(f"('{d}')" for d in _BLOCKLIST_DOMAINS)}),
    blk AS (
      SELECT doc,
             CAST((SELECT MIN(domain) FROM bl
                   WHERE host = domain OR host LIKE ('%.' || domain))
                  IS NOT NULL AS INT) AS blocked
      FROM b),
    dec AS (
      SELECT rob.doc,
             CASE WHEN allowed = 0 THEN 'robots_disallow'
                  WHEN noindex = 1 THEN 'meta_noindex'
                  WHEN blocked = 1 THEN 'blocked_domain'
                  ELSE 'keep' END AS reason
      FROM rob JOIN nx USING (doc) JOIN blk USING (doc))
    SELECT doc, reason, CAST(reason = 'keep' AS INT) AS keep FROM dec
    """,
)
def q_crawl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed admission decision end-to-end over one synthetic page
    table: a robots-disallowed path on a blocklisted host (robots reason
    must win), a robots-ALLOWED path on that same blocklisted host
    (blocklist fires), a noindex page on a clean host, a clean keep, and
    a body-text 'noindex' that must NOT trigger."""
    from ocr_spark.functions.curation import crawl_gate

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(k, _GATE_PAGE_URL).alias("url"),
        case_col(k, _GATE_PAGE_HTML).alias("html"))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string, allow int")
    bl = spark.createDataFrame(
        [(d,) for d in _BLOCKLIST_DOMAINS], "domain string")
    return crawl_gate(docs, "doc_id", "url", "html", rules, bl)


_EXAMPLE_HOST = (["h", _DOC_ID, ".example"],)
_ROBOTS_BODY = (
    ["User-agent: *\nDisallow: /private\nAllow: /private/pub # comment\n\n"
     "User-agent: badbot\nDisallow: /"],
    ["User-agent: googlebot\nUser-agent: *\nDisallow: /tmp", 5],
    ["User-agent: badbot\nDisallow: /all"],
    ["Disallow: /orphan\nUser-agent: *\nDisallow:\nAllow: /a", 3],
)
_ROBOTS_BODY_SQL = f"""
    SELECT {case_sql('doc_id', _EXAMPLE_HOST)} AS host,
           {case_sql('doc_id', _ROBOTS_BODY)} AS body
    FROM documents
"""


@query(
    "parse_robots",
    f"""
    WITH u AS ({_ROBOTS_BODY_SQL}),
    l0 AS (
      SELECT host, i - 1 AS pos,
             trim(regexp_replace(parts[i], '#.*$', '')) AS line
      FROM (SELECT host, parts, unnest(generate_series(1, len(parts))) AS i
            FROM (SELECT host, string_split(body, chr(10)) AS parts FROM u))),
    g AS (
      SELECT host, pos, line,
             CASE WHEN starts_with(lower(line), 'user-agent:')
                  THEN 1 ELSE 0 END AS is_ua
      FROM l0),
    g1 AS (
      SELECT *, COALESCE(LAG(is_ua) OVER (PARTITION BY host ORDER BY pos), 0)
             AS prev_ua
      FROM g),
    g2 AS (
      SELECT *, SUM(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY host ORDER BY pos) AS grp
      FROM g1),
    star AS (
      SELECT DISTINCT host, grp FROM g2
      WHERE is_ua = 1 AND trim(substring(line, 12)) = '*'),
    r AS (
      SELECT host, grp,
             lower(regexp_extract(line, '^([A-Za-z-]+):', 1)) AS d,
             trim(regexp_extract(line, '^[A-Za-z-]+:(.*)$', 1)) AS p
      FROM g2 WHERE is_ua = 0)
    SELECT DISTINCT host, p AS path_prefix,
           CAST(d = 'allow' AS INT) AS allow
    FROM r JOIN star USING (host, grp)
    WHERE d IN ('allow', 'disallow') AND p != ''
    """,
)
def q_parse_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing over deterministic synthetic bodies: a star
    group followed by a bot-specific group (whose rules must NOT emit),
    consecutive User-agent lines sharing one group, a no-star file, an
    orphan rule before any group, an empty Disallow (allow-all idiom),
    and trailing comments."""
    from ocr_spark.functions.curation import parse_robots

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _EXAMPLE_HOST).alias("host"),
        case_col(k, _ROBOTS_BODY).alias("body"))
    return parse_robots(docs, "host", "body")


_TREND_SQL = """
    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
           (doc_id * doc_id) % 29 AS day,
           (doc_id * 37) % 101 AS q
    FROM documents
"""


@query(
    "host_quality_trend",
    f"""
    WITH u AS ({_TREND_SQL}),
    daily AS (
      SELECT host, CAST(day AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(q) AS BIGINT) AS sum_q
      FROM u GROUP BY host, day),
    win AS (
      SELECT host, day, n_docs, sum_q,
             SUM(sum_q) OVER (PARTITION BY host ORDER BY day
                              RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS wsum,
             SUM(n_docs) OVER (PARTITION BY host ORDER BY day
                               RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS wn
      FROM daily)
    SELECT host, day, n_docs,
           CAST((sum_q * 100) // n_docs AS BIGINT) AS mean_bp,
           CAST((wsum * 100) // wn AS BIGINT) AS ma_bp
    FROM win
    """,
)
def q_host_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware per-host quality trend over a quadratic-residue day grid
    (days (k*k) % 29 leave real gaps per host, exercising RANGE vs ROWS
    frame semantics) with deterministic 0-100 quality scores."""
    from ocr_spark.functions.curation import host_quality_trend

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (k % 7).cast("string"), F.lit(".com")).alias("host"),
        ((k * k) % 29).alias("day"),
        ((k * 37) % 101).alias("q"),
    )
    return host_quality_trend(docs, "host", "day", "q", window_days=3)


_JSONLD_HTML = (
    ["<html><script "
     'type="application/ld+json">{"@type":"Article","headline":"H', 5,
     '","datePublished":"2026-01-0', ("mod", 9, 1), '","author":{"name":"A',
     3, '"}}</script><body>x'],
    ['<SCRIPT type="application/ld+json">{"headline":"Only ', 7,
     '"}</SCRIPT>'],
    ["<html><body>no structured data ", _DOC_ID],
    ['<script type="application/ld+json">{broken json ', _DOC_ID,
     "</script>"],
)
_JSONLD_HTML_SQL = _docs_sql(_JSONLD_HTML, "html")


@query(
    "jsonld_extract",
    f"""
    WITH u AS ({_JSONLD_HTML_SQL}),
    j AS (
      SELECT doc, regexp_extract(html,
               '(?is)<script[^>]*type="application/ld\\+json"[^>]*>(.*?)</script>',
               1) AS js
      FROM u)
    SELECT doc, CAST(js != '' AS INT) AS has_jsonld,
           COALESCE(CASE WHEN json_valid(js)
                    THEN json_extract_string(js, '$.headline') END, '')
             AS headline,
           COALESCE(CASE WHEN json_valid(js)
                    THEN json_extract_string(js, '$.datePublished') END, '')
             AS date_published,
           COALESCE(CASE WHEN json_valid(js)
                    THEN json_extract_string(js, '$.author.name') END, '')
             AS author_name
    FROM j
    """,
)
def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD extraction over deterministic synthetic html: a full
    article block with a nested author, a headline-only block in
    uppercase script tags, a block-free page, and malformed JSON that
    must degrade to '' fields instead of erroring."""
    from ocr_spark.functions.curation import jsonld_extract

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _JSONLD_HTML).alias("html"))
    return jsonld_extract(docs, "doc_id", "html")


_SNIFF_PAYLOAD_SQL = """
    SELECT doc_id AS doc,
           unhex(CASE doc_id % 6
             WHEN 0 THEN '255044462D312E37' || substr(sha256(text), 1, 16)
             WHEN 1 THEN '1F8B0800' || substr(sha256(text), 1, 16)
             WHEN 2 THEN '3C21646F63747970652068746D6C3E' || substr(sha256(text), 1, 16)
             WHEN 3 THEN '89504E470D0A1A0A' || substr(sha256(text), 1, 16)
             WHEN 4 THEN 'FFD8FFE0' || substr(sha256(text), 1, 16)
             ELSE substr(sha256(text), 1, 32)
           END) AS payload
    FROM documents
"""


@query(
    "mime_sniff",
    f"""
    WITH u AS ({_SNIFF_PAYLOAD_SQL}),
    h AS (SELECT doc, upper(hex(payload)) AS hx FROM u)
    SELECT doc,
           CASE WHEN starts_with(hx, '255044462D') THEN 'pdf'
                WHEN starts_with(hx, '1F8B') THEN 'gzip'
                WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'png'
                WHEN starts_with(hx, 'FFD8FF') THEN 'jpeg'
                WHEN starts_with(hx, '504B0304') THEN 'zip'
                WHEN starts_with(hx, '3C21444F4354595045') THEN 'html'
                WHEN starts_with(hx, '3C21646F6374797065') THEN 'html'
                WHEN starts_with(hx, '3C48544D4C') THEN 'html'
                WHEN starts_with(hx, '3C68746D6C') THEN 'html'
                ELSE 'unknown' END AS sniffed
    FROM h
    """,
)
def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type sniffing over deterministic binary payloads
    carrying real signatures (%PDF-, gzip, lowercase doctype, PNG, JPEG)
    plus unsigned bytes that must come back 'unknown'."""
    from ocr_spark.sources.sniff import mime_sniff

    k = F.col("doc_id")
    m = k % 6
    sh = F.substring(F.sha2("text", 256), 1, 16)
    hexpayload = (
        F.when(m == 0, F.concat(F.lit("255044462D312E37"), sh))
        .when(m == 1, F.concat(F.lit("1F8B0800"), sh))
        .when(m == 2, F.concat(
            F.lit("3C21646F63747970652068746D6C3E"), sh))
        .when(m == 3, F.concat(F.lit("89504E470D0A1A0A"), sh))
        .when(m == 4, F.concat(F.lit("FFD8FFE0"), sh))
        .otherwise(F.substring(F.sha2("text", 256), 1, 32))
    )
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(hexpayload).alias("payload"))
    return mime_sniff(docs, "doc_id", "payload")


_SITEMAP_XML = (
    ['<?xml version="1.0"?><urlset><url><loc>https://h', _DOC_ID,
     ".example/a</loc><lastmod>2026-01-0", ("mod", 9, 1),
     "</lastmod><priority>0.", 10, "</priority></url><url><loc>https://h",
     _DOC_ID, ".example/b</loc></url></urlset>"],
    ["<sitemapindex><sitemap><loc>https://h", _DOC_ID,
     ".example/s1.xml</loc><lastmod>2025-12-3", 2,
     "</lastmod></sitemap><sitemap><loc>https://h", _DOC_ID,
     ".example/s2.xml</loc></sitemap></sitemapindex>"],
    ["<URLSET><URL><LOC>  https://h", _DOC_ID,
     ".example/c  </LOC></URL><url><loc></loc></url></URLSET>"],
    ["<html>not a sitemap at all ", _DOC_ID, "</html>"],
)
_SITEMAP_XML_SQL = f"""
    SELECT {case_sql('doc_id', _EXAMPLE_HOST)} AS host,
           {case_sql('doc_id', _SITEMAP_XML)} AS xml
    FROM documents
"""


@query(
    "sitemap_parse",
    f"""
    WITH u AS ({_SITEMAP_XML_SQL}),
    k AS (
      SELECT host, xml,
             CASE WHEN regexp_matches(xml, '(?is)<\\s*sitemapindex[\\s>]')
                  THEN 'index' ELSE 'urlset' END AS kind
      FROM u),
    b AS (
      SELECT host, kind,
             CASE WHEN kind = 'index'
                  THEN regexp_extract_all(xml, '(?is)<sitemap>(.*?)</sitemap>', 1)
                  ELSE regexp_extract_all(xml, '(?is)<url>(.*?)</url>', 1)
             END AS blocks
      FROM k),
    e AS (
      SELECT host, kind, i - 1 AS pos, blocks[i] AS block
      FROM (SELECT host, kind, blocks,
                   unnest(generate_series(1, len(blocks))) AS i
            FROM b))
    SELECT host, pos, kind,
           regexp_extract(block, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
           regexp_extract(block, '(?is)<lastmod>\\s*(.*?)\\s*</lastmod>', 1) AS lastmod,
           regexp_extract(block, '(?is)<priority>\\s*(.*?)\\s*</priority>', 1) AS priority
    FROM e
    WHERE regexp_extract(block, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) != ''
    """,
)
def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-protocol parsing over deterministic synthetic XML: a
    urlset with full and minimal entries, a sitemapindex (kind='index'),
    an uppercase-tag + whitespace-padded loc + empty-loc file, and a
    non-sitemap page that must yield zero rows."""
    from ocr_spark.functions.curation import sitemap_parse

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _EXAMPLE_HOST).alias("host"),
        case_col(k, _SITEMAP_XML).alias("xml"))
    return sitemap_parse(docs, "host", "xml")


_NO_DECL = ["<html><body>no declaration ", _DOC_ID]
_CHARSET_HTML = (
    _NO_DECL,
    ['<html><meta charset="UTF-8"><body>bom beats me'],
    _NO_DECL,
    ['<html><meta charset="ISO-8859-1"><body>x'],
    ['<html><meta http-equiv="Content-Type" '
     'content="text/html; charset=utf8"><body>y'],
    _NO_DECL,
)
_CHARSET_PAYLOAD_SQL = f"""
    SELECT doc_id,
           unhex(CASE doc_id % 6
             WHEN 0 THEN 'EFBBBF' || substr(sha256(text), 1, 16)
             WHEN 1 THEN 'FFFE' || substr(sha256(text), 1, 16)
             WHEN 2 THEN 'FEFF' || substr(sha256(text), 1, 16)
             ELSE substr(sha256(text), 1, 32)
           END) AS payload,
           {case_sql('doc_id', _CHARSET_HTML)} AS html
    FROM documents
"""


@query(
    "charset_detect",
    f"""
    WITH u AS ({_CHARSET_PAYLOAD_SQL}),
    h AS (
      SELECT doc_id AS doc, upper(substr(hex(payload), 1, 6)) AS hx, html
      FROM u),
    s AS (
      SELECT doc,
             CASE WHEN starts_with(hx, 'EFBBBF') THEN 'utf-8'
                  WHEN starts_with(hx, 'FEFF') THEN 'utf-16be'
                  WHEN starts_with(hx, 'FFFE') THEN 'utf-16le'
                  ELSE '' END AS bom,
             lower(COALESCE(
               nullif(regexp_extract(html,
                 '(?is)<meta\\s[^>]*charset\\s*=\\s*"?([A-Za-z0-9_-]+)', 1), ''),
               nullif(regexp_extract(html,
                 '(?is)<meta\\s[^>]*content\\s*=\\s*"[^"]*charset=([A-Za-z0-9_-]+)', 1), ''),
               '')) AS rawdecl
      FROM h),
    n AS (
      SELECT doc, bom,
             CASE rawdecl
               WHEN 'utf8' THEN 'utf-8'
               WHEN 'iso-8859-1' THEN 'windows-1252'
               WHEN 'latin1' THEN 'windows-1252'
               WHEN 'latin-1' THEN 'windows-1252'
               WHEN 'us-ascii' THEN 'windows-1252'
               WHEN 'ascii' THEN 'windows-1252'
               WHEN 'cp1252' THEN 'windows-1252'
               ELSE rawdecl END AS declared
      FROM s)
    SELECT doc, bom, declared,
           COALESCE(nullif(bom, ''), nullif(declared, ''), 'utf-8') AS charset
    FROM n
    """,
)
def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHATWG-style charset sniff over deterministic payloads: UTF-8 /
    UTF-16LE / UTF-16BE BOMs (one overriding a conflicting declaration),
    a legacy ISO-8859-1 declaration that must normalize to windows-1252,
    an http-equiv declaration, and undeclared pages defaulting utf-8."""
    from ocr_spark.functions.curation import charset_detect

    k = F.col("doc_id")
    m = k % 6
    sh = F.substring(F.sha2("text", 256), 1, 16)
    hexpayload = (
        F.when(m == 0, F.concat(F.lit("EFBBBF"), sh))
        .when(m == 1, F.concat(F.lit("FFFE"), sh))
        .when(m == 2, F.concat(F.lit("FEFF"), sh))
        .otherwise(F.substring(F.sha2("text", 256), 1, 32))
    )
    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(hexpayload).alias("payload"),
        case_col(k, _CHARSET_HTML).alias("html"))
    return charset_detect(docs, "doc_id", "payload", "html")


def _dot_sql(expr: str, depth: int = 8) -> str:
    """DuckDB twin of curation._remove_dot_segments: the identical
    global-replace step list applied the identical number of times."""
    steps = [(r"/\.(/|$)", "/"), (r"/[^/]+/\.\.(/|$)", "/"),
             (r"^/\.\.(/|$)", "/")]
    for _ in range(depth):
        for pat, rep in steps:
            expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return expr


_RESOLVE_DEEP = ["https://h", 7, ".example/a/b/c.html?old=1#frag"]
_RESOLVE_BASE = (_RESOLVE_DEEP,) * 5 + (
    ["https://h", 7, ".example"], _RESOLVE_DEEP, ["garbage-not-a-url"])
_RESOLVE_REF = (
    ["https://other.org/abs#x"],
    ["//cdn", 3, ".example/lib.js"],
    ["/root/../img", 4, ".png"],
    ["#section"],
    ["?q=", 9],
    ["sub/page", 5, ".html"],
    ["../up/./x", 6, ".html"],
    ["x/y.html"],
)


def _resolve_oracle() -> str:
    path_part = _dot_sql("regexp_extract(s, '^([^?]*)', 1)")
    pq = path_part + " || regexp_extract(s, '(\\?.*)$', 1)"
    path_query_ref = pq.replace("(s, ", "(ref, ").replace("(s,", "(ref,")
    path_query_merged = pq.replace("(s, ", "(base_dir || ref, ")
    return f"""
    WITH raw AS (
      SELECT {case_sql('doc_id', _RESOLVE_BASE)} AS base0,
             {case_sql('doc_id', _RESOLVE_REF)} AS ref0
      FROM documents),
    c AS (
      SELECT base0 AS base_out, ref0 AS ref_out,
             regexp_extract(base0, '^([^#]*)', 1) AS base,
             regexp_extract(ref0, '^([^#]*)', 1) AS ref
      FROM raw),
    d AS (
      SELECT *,
             regexp_extract(base, '(?i)^([a-z][a-z0-9+.-]*):', 1) AS scheme,
             regexp_extract(base, '(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) AS authroot,
             CASE WHEN regexp_extract(base, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                  THEN '/' ELSE regexp_extract(base, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
             END AS base_path
      FROM c),
    e AS (
      SELECT *,
             CASE WHEN regexp_replace(base_path, '[^/]*$', '') = ''
                  THEN '/' ELSE regexp_replace(base_path, '[^/]*$', '')
             END AS base_dir
      FROM d)
    SELECT base_out AS base, ref_out AS ref,
           CASE WHEN authroot = '' THEN
             CASE WHEN regexp_matches(ref, '(?i)^[a-z][a-z0-9+.-]*:')
                  THEN ref ELSE '' END
           ELSE
             CASE WHEN regexp_matches(ref, '(?i)^[a-z][a-z0-9+.-]*:') THEN ref
                  WHEN starts_with(ref, '//') THEN scheme || ':' || ref
                  WHEN starts_with(ref, '/') THEN authroot || {path_query_ref}
                  WHEN ref = '' THEN base
                  WHEN starts_with(ref, '?') THEN authroot || base_path || ref
                  ELSE authroot || {path_query_merged}
             END
           END AS resolved
    FROM e
    """


@query("resolve_urls", _resolve_oracle())
def q_resolve_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 reference resolution over deterministic base/ref pairs
    covering every branch: absolute, protocol-relative, root-relative
    with dot segments, empty/fragment-only, query-only, directory merge,
    '../' climbing, an authority-less base, and fragment stripping."""
    from ocr_spark.functions.curation import resolve_urls

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _RESOLVE_BASE).alias("base0"),
        case_col(k, _RESOLVE_REF).alias("ref0"))
    return resolve_urls(docs, "base0", "ref0")


_MIRROR_CTE = """
    md0 AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
      FROM documents
      WHERE length(trim(text)) > 0),
    md AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS host, fp FROM md0
      UNION ALL
      SELECT 'm' || CAST(doc_id % 5 AS VARCHAR) AS host, fp
      FROM md0 WHERE doc_id % 3 = 0)
"""


@query(
    "mirror_hosts",
    f"""
    WITH {_MIRROR_CTE},
    hf AS (SELECT DISTINCT host, fp FROM md),
    n AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fp FROM hf GROUP BY host),
    p AS (
      SELECT a.host AS host_a, b.host AS host_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM hf a JOIN hf b ON a.fp = b.fp AND a.host < b.host
      GROUP BY a.host, b.host
      HAVING COUNT(*) >= 2)
    SELECT host_a, host_b, shared,
           na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b
    FROM p JOIN n na ON p.host_a = na.host
           JOIN n nb ON p.host_b = nb.host
    """,
)
def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection: host pairs sharing >= 2 canonicalized content
    fingerprints, with each side's distinct-fingerprint count so the
    consumer can form the overlap coefficient shared/min(n_a,n_b) exactly.
    The crawl fixture serves every doc from its primary host (doc_id%40)
    and every third doc ALSO from a mirror host (m<doc_id%5>) — the union
    models the same page crawled at two addresses, which is exactly what a
    mirror is; fingerprints are the same case/punct/ws-insensitive md5 as
    ``doc_fingerprint``.

    Scale shape: the pair generator is one equi-join keyed on fingerprint —
    candidate pairs are quadratic only in the per-fingerprint host count
    (a duplicate cluster's mirror fan-out, bounded in practice; the same
    oversize-cap-with-observability treatment as lsh_candidate_pairs
    applies if a degenerate fingerprint appears). The host-level agg and
    both count joins are host-cardinality-bounded, never doc-bounded."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+", " ",
        )
    )
    md0 = (
        _cpu(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.md5(canon).alias("fp"))
    )
    md = md0.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        "fp",
    ).unionByName(
        md0.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.lit("m"), (F.col("doc_id") % 5).cast("string")).alias("host"),
            "fp",
        )
    )
    hf = md.distinct()
    n = hf.groupBy("host").agg(F.count(F.lit(1)).alias("n_fp"))
    a = hf.select(F.col("host").alias("host_a"), "fp")
    b = hf.select(F.col("host").alias("host_b"), "fp")
    p = (
        a.join(b, "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
    )
    return (
        p.join(n.select(F.col("host").alias("host_a"), F.col("n_fp").alias("n_fp_a")), "host_a")
        .join(n.select(F.col("host").alias("host_b"), F.col("n_fp").alias("n_fp_b")), "host_b")
        .select("host_a", "host_b", "shared", "n_fp_a", "n_fp_b")
    )


@query(
    "recrawl_deltas",
    """
    WITH v AS (
      SELECT 'u' || CAST(doc_id % 97 AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) AS ts,
             CAST((doc_id // 97) // ((doc_id % 97) % 3 + 1) AS BIGINT) AS rev
      FROM documents),
    d AS (
      SELECT url, ts, rev,
             LAG(rev) OVER (PARTITION BY url ORDER BY ts) AS prev_rev
      FROM v)
    SELECT url,
           CAST(COUNT(*) AS BIGINT) AS n_visits,
           CAST(SUM(CASE WHEN prev_rev IS NOT NULL AND rev <> prev_rev
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM d GROUP BY url
    """,
)
def q_recrawl_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change-rate: per url, how many of its successive crawl
    snapshots changed content revision — the signal a crawl scheduler uses
    to set per-url revisit frequency. Snapshots are the deterministic
    fixture (url = doc_id%97, visit time = doc_id, revision advances every
    url-dependent k visits, k in 1..3, so change rates genuinely differ).

    Scale shape: one shuffle on url for the lag window, then the same
    partitioning feeds the per-url agg (no second exchange); all counters
    are exact integers. At 10^12 rows the url key is high-cardinality and
    unskewed (bounded snapshots per url), the shape AQE handles without
    salting."""
    v = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), (F.col("doc_id") % 97).cast("string")).alias("url"),
        F.col("doc_id").cast("bigint").alias("ts"),
        F.expr(
            "CAST((doc_id DIV 97) DIV ((doc_id % 97) % 3 + 1) AS BIGINT)"
        ).alias("rev"),
    )
    w = Window.partitionBy("url").orderBy("ts")
    d = v.withColumn("prev_rev", F.lag("rev").over(w))
    return d.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.sum(
            F.when(
                F.col("prev_rev").isNotNull() & (F.col("rev") != F.col("prev_rev")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_changes"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


_SURT_SQL = r"""
    regexp_replace(lower(regexp_replace(
      regexp_extract({u}, '(?i)^[a-z][a-z0-9+.-]*://(\[[^\]]+\]|[^/:?#]+)', 1),
      '^\[|\]$', '', 'g')), '^www\.', '')
"""


_CDX_URL = (
    ["https://WWW.Site", 11, ".com/P/", 7, "?b=2&a=1"],
    ["https://site", 11, ".com/p/", 7, "?a=1&b=2"],
    ["http://[2001:db8::", 5, "]:8080/idx"],
    ["HTTP://Host", 13, ".org"],
)
_RECAPTURE_TEXT = ([_TEXT], [_TEXT, "~"],
                   [_TEXT, "~"])


@query(
    "cdx_index",
    r"""
    WITH caps AS (
      SELECT doc_id * 2 AS capture, CAST(doc_id AS BIGINT) AS ts,
             doc_id AS k, text FROM documents
      UNION ALL
      SELECT doc_id * 2 + 1 AS capture, CAST(doc_id + 1000000 AS BIGINT) AS ts,
             doc_id AS k,
             {recapture} AS text
      FROM documents),
    u AS (
      SELECT capture, ts, text,
             {url} AS url
      FROM caps),
    s AS (
      SELECT capture, ts, text,
             {surt} AS host,
             regexp_replace(lower(regexp_replace(
               url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', '')), '#.*$', '') AS rest
      FROM u),
    kx AS (
      SELECT capture, ts, text,
             CASE WHEN regexp_matches(host, '^[0-9.]+$') OR contains(host, ':')
                  THEN host
                  ELSE array_to_string(list_reverse(string_split(host, '.')), ',')
             END AS hostkey,
             CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
                  ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
             regexp_extract(rest, '\?(.*)$', 1) AS query
      FROM s),
    base AS (
      SELECT capture,
             hostkey || ')' || path ||
             CASE WHEN query = '' THEN ''
                  ELSE '?' || array_to_string(
                         list_sort(string_split(query, '&')), '&') END AS urlkey,
             ts, sha256(text) AS digest
      FROM kx)
    SELECT CAST(capture AS BIGINT) AS capture, urlkey, ts, digest,
           CAST(COUNT(*) OVER (PARTITION BY urlkey) AS BIGINT) AS n_captures,
           CAST(CASE WHEN MIN(ts) OVER (PARTITION BY urlkey, digest) < ts
                     THEN 1 ELSE 0 END AS BIGINT) AS is_revisit
    FROM base
    """.replace("{surt}", _SURT_SQL.format(u="url"))
    .replace("{recapture}", case_sql("doc_id", _RECAPTURE_TEXT))
    .replace("{url}", case_sql("k", _CDX_URL)),
)
def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style capture index over a two-visit recrawl fixture: every
    document is captured twice (the recrawl keeps identical content for
    doc_id%3==0, so exactly those second captures are revisits), under
    URLs that exercise the SURT urlkey — www/case aliases and shuffled
    query-parameter order collapse to one key, IPv6 literals stay
    verbatim, bare authorities get the root path. See
    functions/curation.cdx_index for the one-exchange window plan."""
    from ocr_spark.functions.curation import cdx_index

    d = _cpu(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = case_col(k, _CDX_URL)
    caps = (
        d.select((k * 2).alias("capture"), k.cast("bigint").alias("ts"),
                 url.alias("url"), F.col("text"))
        .unionByName(
            d.select(
                (k * 2 + 1).alias("capture"),
                (k + 1000000).cast("bigint").alias("ts"),
                url.alias("url"),
                case_col(k, _RECAPTURE_TEXT).alias("text"),
            ))
    )
    out = cdx_index(caps, "capture", "url", "ts", "text")
    return out.withColumn("capture", F.col("capture").cast("bigint"))


@query(
    "url_patterns",
    r"""
    WITH u AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN
                    'https://trap.example/cal?d=' || CAST(doc_id AS VARCHAR)
                  WHEN doc_id % 3 = 1 THEN
                    'https://ok.example/page/' || CAST(doc_id % 4 AS VARCHAR)
                  ELSE 'https://ids.example/s/' || substr(sha256(text), 1, 12)
             END AS url
      FROM documents),
    p AS (
      SELECT lower(regexp_replace(
               regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://(\[[^\]]+\]|[^/:?#]+)', 1),
               '^\[|\]$', '', 'g')) AS host,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', ''),
               '#.*$', ''),
               '[0-9a-f]{8,}', 'H', 'g'),
               '[0-9]+', 'N', 'g'),
               '=[^&#]*', '=V', 'g') AS pattern,
             url AS u2
      FROM u)
    SELECT host, pattern,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT u2) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN COUNT(DISTINCT u2) >= 16 THEN 1 ELSE 0 END AS BIGINT)
             AS is_trap
    FROM p GROUP BY host, pattern
    """,
)
def q_url_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap template mining over a three-host fixture: a calendar
    trap (one template, unbounded distinct URLs), a bounded pagination
    host (4 distinct pages — never flagged), and a hex-id host whose long
    ids collapse to H but still explode distinct URLs. See
    functions/curation.url_patterns."""
    from ocr_spark.functions.curation import url_patterns

    k = F.col("doc_id")
    url = (
        F.when(k % 3 == 0, F.concat(
            F.lit("https://trap.example/cal?d="), k.cast("string")))
        .when(k % 3 == 1, F.concat(
            F.lit("https://ok.example/page/"), (k % 4).cast("string")))
        .otherwise(F.concat(
            F.lit("https://ids.example/s/"),
            F.substring(F.sha2(F.col("text"), 256), 1, 12)))
    )
    d = _cpu(spark, sf_dir, "documents").select(url.alias("url"))
    return url_patterns(d, "url")


@query(
    "source_dup_rates",
    """
    WITH d AS (
      SELECT source AS grp, text FROM documents)
    SELECT grp AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS dup_docs,
           CAST((COUNT(*) - COUNT(DISTINCT text)) * 10000 // COUNT(*)
                AS BIGINT) AS dup_bp
    FROM d GROUP BY grp
    """,
)
def q_source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rate (docs, distinct texts, dup share
    in bp) — the recrawl-budget dashboard number; the engine shuffles
    sha256 digests, the oracle counts distinct raw texts (equal modulo
    collisions). See functions/dedup.dup_rates."""
    from ocr_spark.functions.dedup import dup_rates

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return dup_rates(docs, "source", "text")


@query(
    "sitemap_coverage",
    """
    WITH sm AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '/p'
                 || CAST(doc_id AS VARCHAR) AS url
      FROM documents WHERE doc_id % 3 <> 2),
    cr AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '/p'
                 || CAST(doc_id AS VARCHAR) AS url
      FROM documents WHERE doc_id % 2 = 0 OR doc_id % 5 = 0),
    j AS (
      SELECT COALESCE(sm.host, cr.host) AS host,
             CASE WHEN sm.url IS NOT NULL THEN 1 ELSE 0 END AS in_sm,
             CASE WHEN cr.url IS NOT NULL THEN 1 ELSE 0 END AS in_cr
      FROM sm FULL OUTER JOIN cr ON sm.url = cr.url)
    SELECT host,
           CAST(SUM(in_sm) AS BIGINT) AS n_sitemap,
           CAST(SUM(in_cr) AS BIGINT) AS n_crawled,
           CAST(SUM(in_sm * in_cr) AS BIGINT) AS n_both,
           CAST(SUM(in_sm * in_cr) * 10000 // SUM(in_sm) AS BIGINT)
               AS coverage_bp,
           CAST(SUM(in_cr * (1 - in_sm)) AS BIGINT) AS n_orphans
    FROM j GROUP BY host
    """,
)
def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl coverage diff per host over deterministic
    synthetic URL sets: how much of each host's sitemap was actually
    fetched (coverage_bp) and how many fetched pages the sitemap never
    listed (orphans — the crawler-trap / infinite-calendar signal).
    One url-keyed full outer join + a host agg; at corpus scale both
    sides shuffle on url once and AQE handles host skew."""
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    url = F.concat(host, F.lit("/p"), F.col("doc_id").cast("string"))
    sm = docs.filter(F.col("doc_id") % 3 != 2).select(
        host.alias("host"), url.alias("url"))
    cr = docs.filter((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 5 == 0)
                     ).select(host.alias("host"), url.alias("url"))
    j = (
        sm.alias("sm").join(cr.alias("cr"),
                            F.col("sm.url") == F.col("cr.url"), "full_outer")
        .select(
            F.coalesce(F.col("sm.host"), F.col("cr.host")).alias("host"),
            F.when(F.col("sm.url").isNotNull(), 1).otherwise(0).alias("in_sm"),
            F.when(F.col("cr.url").isNotNull(), 1).otherwise(0).alias("in_cr"),
        )
    )
    return (
        j.groupBy("host")
        .agg(
            F.sum("in_sm").cast("bigint").alias("n_sitemap"),
            F.sum("in_cr").cast("bigint").alias("n_crawled"),
            F.sum(F.col("in_sm") * F.col("in_cr")).cast("bigint")
            .alias("n_both"),
            F.expr("CAST(SUM(in_sm * in_cr) * 10000"
                   " div SUM(in_sm) AS BIGINT)").alias("coverage_bp"),
            F.sum(F.col("in_cr") * (1 - F.col("in_sm"))).cast("bigint")
            .alias("n_orphans"),
        )
    )


@query(
    "politeness_schedule",
    """
    WITH f AS (
      SELECT 'h' || CAST(user_id % 19 AS VARCHAR) AS h,
             epoch_us(ts) AS arr, event_id AS ord,
             (user_id % 5 + 1) * 1000000 AS d
      FROM events),
    s AS (
      SELECT h, arr,
             MAX(d) OVER (PARTITION BY h) AS d,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY arr, ord) - 1 AS seq
      FROM f),
    r AS (
      SELECT h, arr,
             seq * d + MAX(arr - seq * d) OVER (
               PARTITION BY h ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sched
      FROM s)
    SELECT h AS host,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(SUM(sched - arr) AS BIGINT) AS total_wait_micros,
           CAST(MAX(sched - arr) AS BIGINT) AS max_wait_micros,
           CAST(MAX(sched) AS BIGINT) AS finish_micros
    FROM r GROUP BY h
    """,
)
def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl politeness queueing report: the sequential
    sched_k = max(arr_k, sched_{k-1} + d) recurrence solved as one
    running window max (closed form k*d + max(arr_j - j*d)) — no loop,
    exact BIGINT micros. See functions/curation.politeness_schedule."""
    from ocr_spark.functions.curation import politeness_schedule

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 19).cast("string"))
        .alias("host"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("arr"),
        F.col("event_id").alias("ord"),
        ((F.col("user_id") % 5 + 1) * 1000000).alias("d"),
    )
    return politeness_schedule(ev, "host", "arr", "ord", "d")


_FEED_HOST = (["h", 5],)
_FEED_XML = (
    ['<feed xmlns="http://www.w3.org/2005/Atom"><entry><title>A', _DOC_ID,
     '</title><link href="http://a/', _DOC_ID, '"/><published>2026-01-0',
     ("mod", 9, 1), "</published></entry><entry><title>B", _DOC_ID,
     '</title><link href="http://b/', _DOC_ID, '"/><updated>2026-02-0',
     ("mod", 9, 1), "</updated></entry></feed>"],
    ['<rss version="2.0"><channel><item><title>R', _DOC_ID,
     "</title><link> http://r/", _DOC_ID, " </link><pubDate>Tue 0",
     ("mod", 9, 1), " Jan</pubDate></item><ITEM><TITLE>S", _DOC_ID,
     "</TITLE></ITEM></channel></rss>"],
    ["<html>not a feed ", _DOC_ID, "</html>"],
)


@query(
    "feed_parse",
    f"""
    WITH synth AS (
      SELECT {case_sql('doc_id', _FEED_HOST)} AS host,
             {case_sql('doc_id', _FEED_XML)} AS xml
      FROM documents),
    blocks AS (
      SELECT host,
             CASE WHEN regexp_matches(xml, '(?is)<\\s*feed[\\s>]')
                  THEN 'atom' ELSE 'rss' END AS kind,
             CASE WHEN regexp_matches(xml, '(?is)<\\s*feed[\\s>]')
                  THEN regexp_extract_all(xml,
                    '(?is)<\\s*entry[\\s>](.*?)<\\s*/\\s*entry\\s*>', 1)
                  ELSE regexp_extract_all(xml,
                    '(?is)<\\s*item[\\s>](.*?)<\\s*/\\s*item\\s*>', 1)
             END AS bs
      FROM synth),
    e AS (
      SELECT host, kind, u.pos, u.block FROM (
        SELECT host, kind,
               list_transform(generate_series(0, len(bs) - 1),
                 i -> {{'pos': i, 'block': bs[i + 1]}}) AS pairs
        FROM blocks),
      LATERAL unnest(pairs) AS t(u))
    SELECT host, CAST(pos AS BIGINT) AS pos, kind,
           regexp_extract(block, '(?is)<\\s*title\\s*>\\s*([^<]*?)\\s*<', 1)
               AS title,
           CASE WHEN kind = 'atom' THEN
             regexp_extract(block,
               '(?is)<\\s*link[^>]*href\\s*=\\s*"([^"]*)"', 1)
           ELSE
             regexp_extract(block,
               '(?is)<\\s*link\\s*>\\s*([^<\\s][^<]*?)\\s*<', 1)
           END AS link,
           CASE WHEN kind = 'atom' THEN
             COALESCE(NULLIF(regexp_extract(block,
               '(?is)<\\s*published\\s*>\\s*([^<]*?)\\s*<', 1), ''),
               regexp_extract(block,
                 '(?is)<\\s*updated\\s*>\\s*([^<]*?)\\s*<', 1))
           ELSE
             regexp_extract(block,
               '(?is)<\\s*pubdate\\s*>\\s*([^<]*?)\\s*<', 1)
           END AS published
    FROM e
    WHERE regexp_extract(block,
      '(?is)<\\s*title\\s*>\\s*([^<]*?)\\s*<', 1) <> ''
    """,
)
def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed parsing over deterministic synthetic feeds (an Atom
    feed with/without published, an RSS channel with uppercase tags and
    whitespace-padded links, and a non-feed page yielding zero rows).
    See functions/curation.feed_parse."""
    from ocr_spark.functions.curation import feed_parse

    k = F.col("doc_id")
    docs = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _FEED_HOST).alias("host"),
        case_col(k, _FEED_XML).alias("xml"))
    return feed_parse(docs, "host", "xml")


@query(
    "hreflang_groups",
    """
    WITH pages AS (
      SELECT doc_id,
             'u' || CAST(doc_id // 4 AS VARCHAR) || '-'
                 || CAST(doc_id % 4 AS VARCHAR) AS url,
             doc_id // 4 AS cl
      FROM documents),
    alts AS (
      SELECT p.url,
             'u' || CAST(p.cl AS VARCHAR) || '-' || CAST(v AS VARCHAR)
                 AS alt_url
      FROM pages p, LATERAL unnest([0, 1, 2, 3]) AS t(v)),
    grouped AS (
      SELECT url, MIN(alt_url) AS cluster_id FROM alts GROUP BY url)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           MIN(url) AS first_url,
           MAX(url) AS last_url
    FROM grouped GROUP BY cluster_id
    """,
)
def q_hreflang_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate-language page grouping from hreflang link clusters:
    pages listing each other as rel=alternate hreflang variants collapse
    to one canonical cluster (min alternate URL). hreflang sets are
    complete cliques by spec — every variant lists all variants — so one
    min-over-alternates pass groups them with NO iterative closure
    (contrast dedup_components, which pays the loop for arbitrary
    graphs; that assumption is the documented contract here). The
    translated-variant analog of mirror_hosts: training pipelines count
    a translated clique once per language, not once per URL.

    Plan: parse hreflang links out of the synthetic head (zero-shuffle
    projection), explode, one (url) agg, one (cluster) agg."""
    k = F.col("doc_id")
    pages = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), (k / 4).cast("bigint").cast("string"),
                 F.lit("-"), (k % 4).cast("string")).alias("url"),
        (k / 4).cast("bigint").alias("cl"),
    )
    # synthesize the <head> block each page serves, then parse it back
    head = pages.select(
        "url",
        F.concat(
            F.lit("<head>"),
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda v: F.concat(
                        F.lit('<link rel="alternate" hreflang="l'),
                        v.cast("string"), F.lit('" href="u'),
                        F.col("cl").cast("string"), F.lit("-"),
                        v.cast("string"), F.lit('"/>')),
                )),
            F.lit("</head>"),
        ).alias("html"),
    )
    alts = head.select(
        "url",
        F.explode(
            F.regexp_extract_all(
                F.col("html"),
                F.lit(r'(?i)<link[^>]*rel="alternate"[^>]*href="([^"]*)"'),
                F.lit(1))).alias("alt_url"),
    )
    grouped = alts.groupBy("url").agg(F.min("alt_url").alias("cluster_id"))
    return (
        grouped.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.min("url").alias("first_url"),
            F.max("url").alias("last_url"),
        )
    )


@query(
    "fetch_status_rollup",
    """
    WITH f AS (
      SELECT 'h' || CAST(user_id % 19 AS VARCHAR) AS host,
             CASE WHEN event_id % 10 <= 5 THEN 200
                  WHEN event_id % 10 = 6 THEN 301
                  WHEN event_id % 10 = 7 THEN 404
                  WHEN event_id % 10 = 8 THEN 500
                  ELSE 304 END AS status,
             (event_id % 997 + 1) * 1000 AS lat
      FROM events),
    hist AS (
      SELECT host, lat, COUNT(*) AS c FROM f GROUP BY host, lat),
    r AS (
      SELECT host, lat, c,
             SUM(c) OVER (PARTITION BY host ORDER BY lat
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY host) AS n
      FROM hist),
    p95 AS (
      SELECT host, MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN lat END)
                 AS p95_lat
      FROM r GROUP BY host)
    SELECT f.host,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(SUM(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2xx,
           CAST(SUM(CASE WHEN status IN (301, 304) THEN 1 ELSE 0 END)
               AS BIGINT) AS c3xx,
           CAST(SUM(CASE WHEN status = 404 THEN 1 ELSE 0 END) AS BIGINT)
               AS c4xx,
           CAST(SUM(CASE WHEN status = 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS c5xx,
           CAST(SUM(CASE WHEN status IN (200, 304) THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS ok_bp,
           CAST(SUM(lat) AS BIGINT) AS lat_sum_micros,
           CAST(MAX(p95.p95_lat) AS BIGINT) AS p95_lat_micros
    FROM f JOIN p95 ON p95.host = f.host
    GROUP BY f.host
    """,
)
def q_fetch_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch-log operations report over deterministic synthetic
    statuses/latencies: status-class counts, success share (2xx + 304),
    latency sum and exact p95 via the value-histogram percentile rule
    (the same rule as winsorize/length_percentiles). The crawl health
    dashboard: a host going 5xx-heavy or p95-slow gets its budget cut
    before it stalls fetch slots. One (host,lat) histogram agg + one
    host agg; the percentile runs on the small histogram."""
    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 19).cast("string"))
        .alias("host"),
        F.when(F.col("event_id") % 10 <= 5, 200)
        .when(F.col("event_id") % 10 == 6, 301)
        .when(F.col("event_id") % 10 == 7, 404)
        .when(F.col("event_id") % 10 == 8, 500)
        .otherwise(304).alias("status"),
        ((F.col("event_id") % 997 + 1) * 1000).alias("lat"),
    )
    hist = ev.groupBy("host", "lat").agg(F.count(F.lit(1)).alias("c"))
    wcum = (Window.partitionBy("host").orderBy("lat")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    p95 = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(Window.partitionBy("host")))
        .groupBy("host")
        .agg(F.min(F.when(
            F.col("cum") >= F.expr("(95 * n + 99) div 100"),
            F.col("lat"))).alias("p95_lat"))
    )
    return (
        ev.join(p95, "host")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
            .cast("bigint").alias("c2xx"),
            F.sum(F.when(F.col("status").isin(301, 304), 1).otherwise(0))
            .cast("bigint").alias("c3xx"),
            F.sum(F.when(F.col("status") == 404, 1).otherwise(0))
            .cast("bigint").alias("c4xx"),
            F.sum(F.when(F.col("status") == 500, 1).otherwise(0))
            .cast("bigint").alias("c5xx"),
            F.expr("CAST(SUM(CASE WHEN status IN (200, 304) THEN 1 ELSE 0"
                   " END) * 10000 div COUNT(*) AS BIGINT)").alias("ok_bp"),
            F.sum("lat").cast("bigint").alias("lat_sum_micros"),
            F.max("p95_lat").cast("bigint").alias("p95_lat_micros"),
        )
    )


_TOK_HOST = (["h", 11],)
_TOK = (["p", _DOC_ID],) * 3 + (["p", 5],) * 8


@query(
    "url_token_entropy",
    f"""
    WITH toks AS (
      SELECT {case_sql('doc_id', _TOK_HOST)} AS host,
             {case_sql('doc_id', _TOK)} AS tok
      FROM documents),
    counts AS (
      SELECT host AS g, tok AS k, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    g AS (
      SELECT g, SUM(c) AS n_rows, COUNT(*) AS n_classes,
             SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000)
                          AS BIGINT)) AS sum_clnc
      FROM counts GROUP BY g)
    SELECT g AS host,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_classes AS BIGINT) AS n_classes,
           CAST(CAST(ROUND(LN(CAST(n_rows AS DOUBLE)) * 1000000) AS BIGINT)
                - sum_clnc // n_rows AS BIGINT) AS entropy_micro
    FROM g
    """,
)
def q_url_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-token entropy per host over synthetic URL tokens (three
    'trap' hosts mint a unique token per page, the rest reuse five):
    near-maximal entropy = infinite-URL-space crawler trap (calendars,
    session ids), low entropy = a real site template. Reuses
    functions/curation.group_entropy — two keyed aggs, no windows."""
    from ocr_spark.functions.curation import group_entropy

    k = F.col("doc_id")
    toks = _t(spark, sf_dir, "documents").select(
        case_col(k, _TOK_HOST).alias("host"), case_col(k, _TOK).alias("tok"))
    return group_entropy(toks, "host", "tok")


@query(
    "bot_gap_regularity",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS raw,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS seq
      FROM events),
    arr AS (
      SELECT user_id,
             CASE WHEN user_id % 7 = 0 THEN seq * 1000000 ELSE raw END
                 AS arr,
             seq
      FROM ev),
    gaps AS (
      SELECT user_id,
             arr - LAG(arr) OVER (PARTITION BY user_id ORDER BY seq)
                 AS g
      FROM arr),
    agg AS (
      SELECT user_id,
             COUNT(g) AS n_gaps,
             SUM(g) AS sum_gap,
             SUM(CAST(g AS HUGEINT) * g) AS sum_g2
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id
      HAVING COUNT(g) >= 3)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sum_gap AS BIGINT) AS sum_gap_micros,
           CAST((10000 * (n_gaps * sum_g2
                          - CAST(sum_gap AS HUGEINT) * sum_gap))
                // (CAST(sum_gap AS HUGEINT) * sum_gap) AS BIGINT)
               AS cv2_bp,
           CAST(100 * (n_gaps * sum_g2
                       - CAST(sum_gap AS HUGEINT) * sum_gap)
                < CAST(sum_gap AS HUGEINT) * sum_gap AS INTEGER) AS is_bot
    FROM agg
    """,
)
def q_bot_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-arrival regularity: per user the squared
    coefficient of variation of event gaps in basis points
    (cv2_bp = 10000·(n·Σg² - (Σg)²)/(Σg)²; machines metronome near 0,
    humans burst high) and an is_bot flag at CV < 0.1, tested by pure
    integer cross-multiplication — the decimal sums never meet a float.
    Synthetic bots (user_id % 7 == 0) get exactly regular gaps and must
    flag. One user-keyed window pass + one user agg; the variance
    identity n·Σg² - (Σg)² needs no second mean pass."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("raw"),
    )
    wseq = Window.partitionBy("user_id").orderBy("raw", "event_id")
    arr = ev.withColumn("seq", F.row_number().over(wseq)).select(
        "user_id", "seq",
        F.when(F.col("user_id") % 7 == 0,
               F.col("seq").cast("bigint") * 1000000)
        .otherwise(F.col("raw")).alias("arr"),
    )
    wl = Window.partitionBy("user_id").orderBy("seq")
    gaps = arr.select(
        "user_id",
        (F.col("arr") - F.lag("arr").over(wl)).alias("g"),
    ).filter(F.col("g").isNotNull())
    agg = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("g").cast("bigint").alias("sum_gap"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
            .alias("sum_g2"),
        )
        .filter(F.col("n_gaps") >= 3)
    )
    var_num = F.expr("n_gaps * sum_g2 - CAST(sum_gap AS DECIMAL(38,0))"
                     " * sum_gap")
    return agg.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "n_gaps",
        F.col("sum_gap").alias("sum_gap_micros"),
        F.expr("CAST((10000 * (n_gaps * sum_g2"
               " - CAST(sum_gap AS DECIMAL(38,0)) * sum_gap))"
               " div (CAST(sum_gap AS DECIMAL(38,0)) * sum_gap)"
               " AS BIGINT)").alias("cv2_bp"),
        (F.lit(100) * var_num
         < F.expr("CAST(sum_gap AS DECIMAL(38,0)) * sum_gap"))
        .cast("int").alias("is_bot"),
    )


_NAV_HOST = (["h", 9],)
# a third of each host's pages add a section crumb to the nav template
_NAV_TEXT = (["NAV h", 9, " | home | about | ",
              (["section ", 4, " | "],) * 3 + ([""],) * 6, _TEXT],)


@query(
    "host_common_prefix",
    f"""
    WITH pages AS (
      SELECT {case_sql('doc_id', _NAV_HOST)} AS host,
             {case_sql('doc_id', _NAV_TEXT)} AS t
      FROM documents),
    mm AS (
      SELECT host, COUNT(*) AS n_pages,
             MIN(t) AS lo, MAX(t) AS hi,
             CAST(SUM(length(t)) AS BIGINT) AS chars_total
      FROM pages GROUP BY host),
    lcp AS (
      SELECT host, n_pages, chars_total,
             COALESCE(MIN(CASE WHEN substr(lo, i, 1) <> substr(hi, i, 1)
                           THEN i - 1 END),
                      LEAST(length(lo), length(hi))) AS lcp_len
      FROM (SELECT *, unnest(generate_series(
                1, LEAST(length(lo), length(hi)))) AS i
            FROM mm)
      GROUP BY host, n_pages, chars_total, lo, hi)
    SELECT host,
           CAST(n_pages AS BIGINT) AS n_pages,
           CAST(lcp_len AS BIGINT) AS lcp_len,
           CAST(lcp_len * n_pages * 10000 // chars_total AS BIGINT)
               AS boilerplate_bp
    FROM lcp
    """,
)
def q_host_common_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-boilerplate length per host via the sorted-set LCP
    identity: the common prefix of ALL of a host's pages equals the
    common prefix of just the lexicographic MIN and MAX page — so
    template detection costs one (min, max, count) agg per host plus a
    two-string compare, never a page-pairwise scan. Reports the longest
    common prefix (the nav/header template) and its share of the host's
    bytes. The char compare explodes positions of two strings per host
    only (host-sized, not corpus-sized)."""
    k = F.col("doc_id")
    pages = _cpu(spark, sf_dir, "documents").select(
        case_col(k, _NAV_HOST).alias("host"), case_col(k, _NAV_TEXT).alias("t"))
    mm = pages.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("t").alias("lo"),
        F.max("t").alias("hi"),
        F.sum(F.length("t")).cast("bigint").alias("chars_total"),
    )
    pos = mm.select(
        "host", "n_pages", "chars_total", "lo", "hi",
        F.explode(F.sequence(
            F.lit(1),
            F.least(F.length("lo"), F.length("hi")))).alias("i"),
    )
    lcp = (
        pos.groupBy("host", "n_pages", "chars_total", "lo", "hi")
        .agg(F.coalesce(
            F.min(F.when(
                F.expr("substr(lo, i, 1) <> substr(hi, i, 1)"),
                F.col("i") - 1)),
            F.least(F.length("lo"), F.length("hi")).cast("bigint"),
        ).alias("lcp_len"))
    )
    return lcp.select(
        "host",
        F.col("n_pages").cast("bigint").alias("n_pages"),
        F.col("lcp_len").cast("bigint").alias("lcp_len"),
        F.expr("CAST(lcp_len * n_pages * 10000 div chars_total AS BIGINT)")
        .alias("boilerplate_bp"),
    )


_DOC_DATE = (["published 2026-0", ("mod", 9, 1), "-1", 9,
              " updated 2026-0", ("mod", 9, 1), "-1", 9,
              ([" ref 1999-12-31"], [""], [""]), " ", _TEXT],)


@query(
    "doc_date_infer",
    f"""
    WITH synth AS (
      SELECT doc_id, {case_sql('doc_id', _DOC_DATE)} AS t FROM documents),
    dates AS (
      SELECT doc_id,
             unnest(regexp_extract_all(t,
               '([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})', 1)) AS d
      FROM synth),
    votes AS (
      SELECT doc_id, d, COUNT(*) AS c FROM dates GROUP BY doc_id, d),
    best AS (
      SELECT doc_id, d, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY c DESC, d DESC) AS rk,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct,
             SUM(c) OVER (PARTITION BY doc_id) AS n_dates
      FROM votes)
    SELECT doc_id, d AS inferred_date,
           CAST(c AS BIGINT) AS votes,
           CAST(n_dates AS BIGINT) AS n_dates,
           CAST(n_distinct AS BIGINT) AS n_distinct
    FROM best WHERE rk = 1
    """,
)
def q_doc_date_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish-date inference: extract every ISO date mentioned in the
    page, vote, and take the most-repeated (ties to the most recent) —
    the standard heuristic when pages carry a published AND an updated
    stamp plus stray archival dates. Synthetic pages repeat the true
    date twice and a third of them add a decoy. One regexp explode +
    (doc, date) agg + one argmax window."""
    k = F.col("doc_id")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(k, _DOC_DATE).alias("t"))
    dates = synth.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.col("t"), F.lit(r"([0-9]{4}-[0-9]{2}-[0-9]{2})"),
            F.lit(1))).alias("d"),
    )
    votes = dates.groupBy("doc_id", "d").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.desc("d"))
    wd = Window.partitionBy("doc_id")
    return (
        votes
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_distinct", F.count(F.lit(1)).over(wd))
        .withColumn("n_dates", F.sum("c").over(wd))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", F.col("d").alias("inferred_date"),
            F.col("c").cast("bigint").alias("votes"),
            F.col("n_dates").cast("bigint").alias("n_dates"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
        )
    )


@query(
    "link_contexts",
    """
    WITH synth AS (
      SELECT doc_id,
             'intro words see http://h' || CAST(doc_id % 7 AS VARCHAR)
             || '.example/p' || CAST(doc_id AS VARCHAR)
             || ' for details and also https://h'
             || CAST(doc_id % 5 AS VARCHAR)
             || '.example/q trailing words here' AS t
      FROM documents),
    hits AS (
      SELECT doc_id,
             unnest(regexp_extract_all(t,
               '(?:^|\\s)((?:\\S+\\s){0,2})(https?://\\S+)((?:\\s\\S+){0,2})',
               0)) AS ctx
      FROM synth)
    SELECT doc_id,
           regexp_extract(ctx,
             '(https?://\\S+)', 1) AS url,
           trim(regexp_extract(ctx,
             '(?:^|\\s)((?:\\S+\\s){0,2})https?://', 1)) AS before_ctx,
           trim(regexp_extract(ctx,
             'https?://\\S+((?:\\s\\S+){0,2})', 1)) AS after_ctx
    FROM hits
    """,
)
def q_link_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL mentions with ±2 words of surrounding context — the
    plain-text analog of anchor text (link-context relevance signals
    for ranking and for labeling what a crawl frontier URL is about).
    One regexp_extract_all explode + three in-row group extracts; no
    shuffle."""
    k = F.col("doc_id")
    synth = _cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("intro words see http://h"), (k % 7).cast("string"),
            F.lit(".example/p"), k.cast("string"),
            F.lit(" for details and also https://h"),
            (k % 5).cast("string"),
            F.lit(".example/q trailing words here"),
        ).alias("t"),
    )
    hits = synth.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.col("t"),
            F.lit(r"(?:^|\s)((?:\S+\s){0,2})(https?://\S+)((?:\s\S+){0,2})"),
            F.lit(0))).alias("ctx"),
    )
    return hits.select(
        "doc_id",
        F.regexp_extract(F.col("ctx"), r"(https?://\S+)", 1).alias("url"),
        F.trim(F.regexp_extract(
            F.col("ctx"), r"(?:^|\s)((?:\S+\s){0,2})https?://", 1))
        .alias("before_ctx"),
        F.trim(F.regexp_extract(
            F.col("ctx"), r"https?://\S+((?:\s\S+){0,2})", 1))
        .alias("after_ctx"),
    )


@query(
    "freshness_lag",
    """
    WITH sm AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             'p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 28 + 1 AS BIGINT) AS lastmod_day
      FROM documents),
    cr AS (
      SELECT 'p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 28 + 1 + (doc_id % 5) * 3 AS BIGINT)
                 AS crawl_day
      FROM documents WHERE doc_id % 2 = 0),
    j AS (
      SELECT sm.host, cr.crawl_day - sm.lastmod_day AS lag_days
      FROM sm JOIN cr ON cr.url = sm.url),
    hist AS (
      SELECT host, lag_days, COUNT(*) AS c FROM j GROUP BY host, lag_days),
    r AS (
      SELECT host, lag_days, c,
             SUM(c) OVER (PARTITION BY host ORDER BY lag_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY host) AS n
      FROM hist)
    SELECT host,
           CAST(MAX(n) AS BIGINT) AS n_crawled,
           CAST(MIN(CASE WHEN cum * 2 >= n THEN lag_days END) AS BIGINT)
               AS p50_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM r GROUP BY host
    """,
)
def q_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-freshness report: per host the median and max lag between a
    page's sitemap lastmod and its actual crawl day (only crawled pages
    count) — the recrawl-scheduler input that turns sitemap freshness
    signals into budget. One url-keyed join + the value-histogram
    median rule."""
    k = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    sm = docs.select(
        F.concat(F.lit("h"), (k % 7).cast("string")).alias("host"),
        F.concat(F.lit("p"), k.cast("string")).alias("url"),
        (k % 28 + 1).cast("bigint").alias("lastmod_day"),
    )
    cr = docs.filter(k % 2 == 0).select(
        F.concat(F.lit("p"), k.cast("string")).alias("url"),
        (k % 28 + 1 + (k % 5) * 3).cast("bigint").alias("crawl_day"),
    )
    j = sm.join(cr, "url").select(
        "host", (F.col("crawl_day") - F.col("lastmod_day")).alias("lag"))
    hist = j.groupBy("host", "lag").agg(F.count(F.lit(1)).alias("c"))
    wc = (Window.partitionBy("host").orderBy("lag")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = (hist.withColumn("cum", F.sum("c").over(wc))
         .withColumn("n", F.sum("c").over(Window.partitionBy("host"))))
    return r.groupBy("host").agg(
        F.max("n").cast("bigint").alias("n_crawled"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("lag")))
        .cast("bigint").alias("p50_lag_days"),
        F.max("lag").cast("bigint").alias("max_lag_days"),
    )


@query(
    "canonical_content_mismatch",
    """
    WITH pages AS (
      SELECT doc_id,
             'http://h' || CAST((doc_id // 2) % 9 AS VARCHAR) || '/p'
                 || CAST(doc_id // 2 AS VARCHAR) AS canon,
             CASE WHEN doc_id % 10 = 9 THEN 'CLOAKED ' ELSE '' END
                 || 'content ' || CAST(doc_id // 2 AS VARCHAR) AS body
      FROM documents),
    grp AS (
      SELECT canon,
             COUNT(*) AS n_urls,
             COUNT(DISTINCT body) AS n_bodies
      FROM pages GROUP BY canon)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_canonical_groups,
           CAST(SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_url,
           CAST(SUM(CASE WHEN n_urls > 1 AND n_bodies > 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(SUM(CASE WHEN n_urls > 1 AND n_bodies > 1
                    THEN 1 ELSE 0 END) * 10000
                // GREATEST(SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS mismatch_bp
    FROM grp
    """,
)
def q_canonical_content_mismatch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Canonical-URL vs content agreement audit: among canonical groups
    holding multiple raw URLs, how many serve DIFFERENT bodies — the
    cloaking / personalization / session-state detector that decides
    whether URL-level dedup is safe for a host (if the tracking-param
    variant serves different content, collapsing on canonical URL loses
    data). One canon-keyed agg counting distinct bodies; at corpus
    scale the body would be digested first (same contract as
    dup_rates)."""
    k = F.col("doc_id")
    g = (k / 2).cast("bigint")
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://h"), (g % 9).cast("string"), F.lit("/p"),
                 g.cast("string")).alias("canon"),
        F.concat(
            F.when(k % 10 == 9, F.lit("CLOAKED ")).otherwise(F.lit("")),
            F.lit("content "), g.cast("string")).alias("body"),
    )
    grp = pages.groupBy("canon").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct(F.sha2(F.col("body"), 256)).alias("n_bodies"),
    )
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_canonical_groups"),
        F.sum(F.when(F.col("n_urls") > 1, 1).otherwise(0)).cast("bigint")
        .alias("n_multi_url"),
        F.sum(F.when((F.col("n_urls") > 1) & (F.col("n_bodies") > 1), 1)
              .otherwise(0)).cast("bigint").alias("n_mismatched"),
        F.expr("CAST(SUM(CASE WHEN n_urls > 1 AND n_bodies > 1 THEN 1"
               " ELSE 0 END) * 10000 div GREATEST(SUM(CASE WHEN n_urls"
               " > 1 THEN 1 ELSE 0 END), 1) AS BIGINT)")
        .alias("mismatch_bp"),
    )


_LANG_ATTR_HTML_SQL = """
    CASE doc_id % 5
      WHEN 0 THEN '<html lang="en"><body>'
      WHEN 1 THEN '<html lang="' || lang || '-US"><body>'
      WHEN 2 THEN '<HTML LANG="' || upper(lang) || '"><body>'
      WHEN 3 THEN '<html><body>'
      ELSE '<html  lang = "' || lang || '"><body>'
    END
"""


@query(
    "html_lang_mismatch",
    f"""
    WITH u AS (
      SELECT source, lang, {_LANG_ATTR_HTML_SQL} AS html FROM documents),
    rows_ AS (
      SELECT source AS grp, lower(lang) AS lang,
             lower(regexp_extract(html,
               '(?i)<html[^>]*\\slang\\s*=\\s*"([^"]*)"', 1)) AS declared
      FROM u),
    agg AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(declared != '' AS INT)) AS BIGINT) AS n_declared,
             CAST(SUM(CAST(declared != ''
               AND regexp_extract(declared, '^[a-z]+', 0) != lang AS INT))
               AS BIGINT) AS n_mismatch
      FROM rows_ GROUP BY grp)
    SELECT grp, n_docs, n_declared, n_mismatch,
           CASE WHEN n_declared > 0 THEN
             CAST(n_mismatch * 10000 // n_declared AS BIGINT)
           END AS mismatch_bp
    FROM agg
    """,
)
def q_html_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared <html lang> vs labeled language audit per source over
    deterministic synthetic attributes: template-pinned lang="en"
    (mismatch wherever the page isn't English), matching region subtags
    (en-US), case variants (LANG="DE"), undeclared pages, and
    whitespace-padded attributes. See
    functions/curation.declared_lang_mismatch."""
    from ocr_spark.functions.curation import declared_lang_mismatch

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.expr(_LANG_ATTR_HTML_SQL).alias("html")
    )
    return declared_lang_mismatch(docs, "doc_id", "html", "lang", "source")


_SPAM_EDGE_SQL = """
    CASE
      WHEN doc_id % 40 < 4 THEN [
        'farm' || CAST(doc_id % 40 AS VARCHAR), 'farm' || CAST(doc_id % 40 AS VARCHAR),
        'farm' || CAST(doc_id % 40 AS VARCHAR), 'farm' || CAST(doc_id % 40 AS VARCHAR),
        'farm' || CAST(doc_id % 40 AS VARCHAR), 'farm' || CAST(doc_id % 40 AS VARCHAR)]
      WHEN doc_id % 40 = 4 THEN ['h5', 't' || CAST(doc_id % 97 AS VARCHAR)]
      WHEN doc_id % 40 = 5 THEN ['h4', 't' || CAST(doc_id % 97 AS VARCHAR)]
      ELSE ['t' || CAST(doc_id % 97 AS VARCHAR),
            't' || CAST((doc_id + 13) % 97 AS VARCHAR), 'hub']
    END
"""


@query(
    "link_spam_score",
    f"""
    WITH e AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
             unnest({_SPAM_EDGE_SQL}) AS dst
      FROM documents),
    per AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS n_links,
             CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_targets
      FROM e GROUP BY src),
    pairs AS (SELECT DISTINCT src, dst FROM e WHERE src != dst),
    recip AS (
      SELECT a.src, CAST(COUNT(*) AS BIGINT) AS n_reciprocal
      FROM pairs a JOIN pairs b ON a.src = b.dst AND a.dst = b.src
      GROUP BY a.src)
    SELECT p.src, p.n_links, p.n_targets,
           CAST(p.n_targets * 10000 // p.n_links AS BIGINT) AS diversity_bp,
           CAST(COALESCE(r.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
           CAST((p.n_links >= 20 AND p.n_targets * 10000 // p.n_links <= 2000)
                OR COALESCE(r.n_reciprocal, 0) >= 1 AS INT) AS spam_flag
    FROM per p LEFT JOIN recip r USING (src)
    """,
)
def q_link_spam_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink-spam scoring over a deterministic synthetic host graph:
    four link farms (6 identical outlinks per page), one reciprocal pair
    (h4 <-> h5), and diverse normal hosts. See
    functions/graph.link_spam_score."""
    from ocr_spark.functions.graph import link_spam_score

    spark_edges = (
        _SPAM_EDGE_SQL.replace("VARCHAR", "STRING")
        .replace("[", "array(").replace("]", ")")
    )
    edges = _cpu(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias("src"),
        F.explode(F.expr(spark_edges)).alias("dst"),
    )
    return link_spam_score(edges, "src", "dst")


_REVALIDATION_SYNTH_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 3600 ELSE NULL END AS max_age_sec,
           CAST(doc_id % 7200 AS BIGINT) AS age_sec,
           CASE WHEN doc_id % 4 = 1
                THEN '"etag-' || CAST(doc_id AS VARCHAR) || '"' END AS etag,
           CASE WHEN doc_id % 4 = 2 THEN '2026-01-01 00:00:00' END
               AS last_modified
    FROM documents
"""


@query(
    "revalidation_plan",
    f"""
    WITH u AS ({_REVALIDATION_SYNTH_SQL})
    SELECT doc_id,
           CAST(max_age_sec IS NOT NULL
                AND age_sec < max_age_sec AS INT) AS fresh,
           CASE
             WHEN max_age_sec IS NOT NULL AND age_sec < max_age_sec
               THEN 'skip'
             WHEN etag IS NOT NULL THEN 'revalidate_etag'
             WHEN last_modified IS NOT NULL THEN 'revalidate_ims'
             ELSE 'fetch'
           END AS action
    FROM u
    """,
)
def q_revalidation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP recrawl revalidation planning (RFC 9111 order: freshness
    beats validators; ETag beats Last-Modified): per url decide
    skip / revalidate_etag / revalidate_ims / fetch from synthetic
    cached-response metadata. A zero-shuffle projection — at crawl scale
    this is the gate that turns a 10^12-url frontier into the small
    fraction that actually refetches."""
    u = _cpu(spark, sf_dir, "documents").select("doc_id").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN 3600 END AS max_age_sec",
        "CAST(doc_id % 7200 AS BIGINT) AS age_sec",
        "CASE WHEN doc_id % 4 = 1 THEN concat('\"etag-', CAST(doc_id AS STRING),"
        " '\"') END AS etag",
        "CASE WHEN doc_id % 4 = 2 THEN '2026-01-01 00:00:00' END AS last_modified",
    )
    fresh = F.col("max_age_sec").isNotNull() & (
        F.col("age_sec") < F.col("max_age_sec"))
    return u.select(
        "doc_id",
        fresh.cast("int").alias("fresh"),
        F.when(fresh, F.lit("skip"))
        .when(F.col("etag").isNotNull(), F.lit("revalidate_etag"))
        .when(F.col("last_modified").isNotNull(), F.lit("revalidate_ims"))
        .otherwise(F.lit("fetch"))
        .alias("action"),
    )


_LINE_DIFF_SYNTH = """
      SELECT doc_id % 97 AS url, doc_id,
             CASE WHEN v = 1 THEN
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'alpha', 'beta', 'gamma']
             WHEN doc_id % 3 = 0 THEN
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'alpha', 'beta', 'gamma']
             WHEN doc_id % 3 = 1 THEN
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'ALPHA2', 'beta', 'gamma']
             ELSE
               ['head-' || CAST(doc_id % 97 AS VARCHAR), 'alpha', 'beta', 'delta', 'extra']
             END AS lines,
             v
      FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS v)
      WHERE doc_id % 97 = doc_id
"""


@query(
    "recrawl_line_diff",
    f"""
    WITH pages AS ({_LINE_DIFF_SYNTH}),
    lines_ AS (SELECT url, v, unnest(lines) AS line FROM pages),
    counted AS (
      SELECT url, line,
             SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS c2
      FROM lines_ GROUP BY url, line),
    per_url AS (
      SELECT url,
             CAST(SUM(c1) AS BIGINT) AS n_v1_lines,
             CAST(SUM(CASE WHEN c2 > c1 THEN c2 - c1 ELSE 0 END) AS BIGINT)
                 AS n_added,
             CAST(SUM(CASE WHEN c1 > c2 THEN c1 - c2 ELSE 0 END) AS BIGINT)
                 AS n_removed
      FROM counted GROUP BY url)
    SELECT url, n_v1_lines, n_added, n_removed,
           CAST((n_added + n_removed) * 10000
                // GREATEST(n_v1_lines, 1) AS BIGINT) AS churn_bp
    FROM per_url
    """,
)
def q_recrawl_line_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level content churn between two crawl snapshots of the same
    url (the signal behind delta storage and recrawl scheduling): a
    line-multiset diff — per (url, line) conditional counts across
    versions, added = positive deltas, removed = negative — over
    deterministic synthetic two-version pages (identical / one line
    replaced / one removed + two appended).

    Scale shape: one (url, line-hash)-keyed agg with map-side partials
    (lines would ship as md5 digests at corpus scale) and one url-keyed
    rollup; no cross-version join — the version tag folds into the
    conditional aggregate, so a 10^12-page recrawl diff is two exchanges
    of digest-sized rows."""
    docs = _cpu(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 97 == F.col("doc_id"))
    spark_lines = """
      CASE WHEN v = 1 OR doc_id % 3 = 0 THEN
        array(concat('head-', cast(doc_id % 97 as string)), 'alpha', 'beta', 'gamma')
      WHEN doc_id % 3 = 1 THEN
        array(concat('head-', cast(doc_id % 97 as string)), 'ALPHA2', 'beta', 'gamma')
      ELSE
        array(concat('head-', cast(doc_id % 97 as string)), 'alpha', 'beta', 'delta', 'extra')
      END
    """
    pages = docs.crossJoin(
        F.broadcast(spark.range(1, 3).select(F.col("id").alias("v")))
    ).select(
        (F.col("doc_id") % 97).alias("url"), "v",
        F.explode(F.expr(spark_lines)).alias("line"),
    )
    counted = pages.groupBy("url", "line").agg(
        F.sum((F.col("v") == 1).cast("bigint")).alias("c1"),
        F.sum((F.col("v") == 2).cast("bigint")).alias("c2"),
    )
    per_url = counted.groupBy("url").agg(
        F.sum("c1").cast("bigint").alias("n_v1_lines"),
        F.sum(F.greatest(F.col("c2") - F.col("c1"), F.lit(0)))
        .cast("bigint").alias("n_added"),
        F.sum(F.greatest(F.col("c1") - F.col("c2"), F.lit(0)))
        .cast("bigint").alias("n_removed"),
    )
    return per_url.select(
        "url", "n_v1_lines", "n_added", "n_removed",
        F.expr("(n_added + n_removed) * 10000 div greatest(n_v1_lines, 1)")
        .cast("bigint").alias("churn_bp"),
    )


_LISTS_HTML = (
    ["<ul><li>alpha ", 3, "</li><li>beta</li></ul><ol><li>one</li></ol>"],
    ['<UL class="nav"><LI> spaced item </LI></UL>'],
    ["no lists here ", _DOC_ID],
    ['<ol start="3"><li><b>bold</b> tail</li><li>plain ', 2, "</li></ol>"],
)
_LISTS_HTML_SQL = _docs_sql(_LISTS_HTML, "html")


@query(
    "html_lists",
    f"""
    WITH u AS ({_LISTS_HTML_SQL})
    SELECT doc,
           CAST(len(regexp_extract_all(html, '(?is)<ul[^>]*>')) AS BIGINT)
             AS n_ul,
           CAST(len(regexp_extract_all(html, '(?is)<ol[^>]*>')) AS BIGINT)
             AS n_ol,
           CAST(len(regexp_extract_all(html, '(?is)<li[^>]*>\\s*([^<]*)', 1))
                AS BIGINT) AS n_items,
           nullif(trim(regexp_extract(html, '(?is)<li[^>]*>\\s*([^<]*)', 1)),
                  '') AS first_item,
           CAST(coalesce(list_sum(list_transform(
             regexp_extract_all(html, '(?is)<li[^>]*>\\s*([^<]*)', 1),
             x -> length(trim(x)))), 0) AS BIGINT) AS sum_item_chars
    FROM u
    """,
)
def q_html_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-structure extraction over deterministic synthetic html:
    mixed ul/ol, uppercase tags, markup-first items (empty text → NULL
    first_item), pages with no lists. Zero-shuffle regexp projection;
    see functions/curation.html_lists."""
    from ocr_spark.functions.curation import html_lists

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _LISTS_HTML).alias("html"))
    return html_lists(docs, "doc_id", "html")


_REFRESH_HTML = (
    ['<meta http-equiv="refresh" content="5; url=https://next.com/p', 3, '">'],
    ['<META CONTENT="0;URL=https://r.example/x" HTTP-EQUIV="Refresh">'],
    ['<meta http-equiv="refresh" content="30">'],
    ['<meta name="viewport" content="width=1">'],
)
_REFRESH_HTML_SQL = _docs_sql(_REFRESH_HTML, "html")


@query(
    "meta_refresh",
    f"""
    WITH u AS ({_REFRESH_HTML_SQL}),
    c AS (
      SELECT doc,
             {_meta_paired_sql('meta', 'http-equiv', 'refresh', 'content')}
               AS content
      FROM u)
    SELECT doc,
           CAST(content != '' AS INT) AS has_refresh,
           CAST(nullif(regexp_extract(content, '^\\s*([0-9]+)', 1), '')
                AS BIGINT) AS refresh_delay_s,
           nullif(regexp_extract(content, '(?i)url\\s*=\\s*([^"''\\s;]+)', 1),
                  '') AS refresh_target
    FROM c
    """,
)
def q_meta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-refresh redirect parsing over synthetic html: forward and
    reversed attribute order, uppercase variant, delay-only refresh
    (NULL target), and a non-refresh meta that must not match. See
    functions/curation.meta_refresh."""
    from ocr_spark.functions.curation import meta_refresh

    docs = _cpu(spark, sf_dir, "documents").select(
        "doc_id", case_col(F.col("doc_id"), _REFRESH_HTML).alias("html"))
    return meta_refresh(docs, "doc_id", "html")


_PAGINATION_SQL = """
    SELECT 'https://s.com/a' || CAST(doc_id // 4 AS VARCHAR)
             || '/p' || CAST(doc_id % 4 AS VARCHAR) AS url,
           CASE WHEN doc_id % 4 < 3
                THEN 'https://s.com/a' || CAST(doc_id // 4 AS VARCHAR)
                     || '/p' || CAST(doc_id % 4 + 1 AS VARCHAR)
                ELSE NULL END AS next_url
    FROM documents
"""


@query(
    "pagination_chains",
    f"""
    WITH RECURSIVE pages AS ({_PAGINATION_SQL}),
    edges AS (
      SELECT url, next_url FROM pages WHERE next_url IS NOT NULL),
    chain AS (
      SELECT url, url AS head, 0 AS depth FROM pages
      WHERE url NOT IN (SELECT next_url FROM edges)
      UNION ALL
      SELECT e.next_url AS url, c.head, c.depth + 1
      FROM edges e JOIN chain c ON e.url = c.url),
    sizes AS (SELECT head, CAST(COUNT(*) AS BIGINT) AS chain_len
              FROM chain GROUP BY head)
    SELECT c.url, c.head,
           CAST(c.url = c.head AS INT) AS is_head,
           s.chain_len
    FROM chain c JOIN sizes s ON s.head = c.head
    """,
)
def q_pagination_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination-chain stitching: group rel="next"-linked pages into
    articles (every page mapped to its chain head + the chain length) —
    the assembly step before multi-page articles are merged into one
    training document. Reuses the O(log L) pointer-doubling resolver on
    the REVERSED next-edges (a page's head is the terminal of its prev
    chain), so one pathological 10 000-page paginated site costs rounds,
    not hops-many shuffles. The DuckDB twin is a recursive CTE walking
    forward from the heads. Synthetic 4-page articles derived from
    doc_id; head pages and chain membership verified value-exact."""
    from ocr_spark.functions.graph import resolve_redirects

    k = F.col("doc_id")
    url = F.concat(F.lit("https://s.com/a"),
                   (k / 4).cast("bigint").cast("string"),
                   F.lit("/p"), (k % 4).cast("string"))
    next_url = F.when(k % 4 < 3, F.concat(
        F.lit("https://s.com/a"), (k / 4).cast("bigint").cast("string"),
        F.lit("/p"), (k % 4 + 1).cast("string")))
    pages = _cpu(spark, sf_dir, "documents").select(
        url.alias("url"), next_url.alias("next_url"))
    edges = pages.filter(F.col("next_url").isNotNull())
    # head of each page = terminal of the REVERSED next-chain
    rev = edges.select(F.col("next_url").alias("src"),
                       F.col("url").alias("dst"))
    res = resolve_redirects(rev, rounds=4)
    chain = (
        pages.join(res, pages["url"] == res["src"], "left")
        .select(pages["url"],
                F.coalesce(res["final"], pages["url"]).alias("head"))
    )
    sizes = chain.groupBy("head").agg(
        F.count(F.lit(1)).cast("bigint").alias("chain_len"))
    return (
        chain.join(sizes, "head")
        .select("url", "head",
                (F.col("url") == F.col("head")).cast("int").alias("is_head"),
                "chain_len")
    )


_COMMENT_HTML = (
    ["<p>keep ", 3, "</p><!-- secret note --><p>also keep</p>"],
    ["before<!-- multi\nline comment -->after<!-- second -->"],
    ["<!--[if IE]><p>ie only</p><![endif]-->content"],
    ["no comments ", _DOC_ID],
)
_COMMENT_HTML_SQL = _docs_sql(_COMMENT_HTML, "html")


@query(
    "html_comment_strip",
    f"""
    WITH u AS ({_COMMENT_HTML_SQL})
    SELECT doc,
           CAST(len(regexp_extract_all(html, '(?s)<!--.*?-->')) AS BIGINT)
             AS n_comments,
           CAST(regexp_matches(html, '(?s)<!--\\[if\\s') AS INT)
             AS has_conditional,
           regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS stripped,
           CAST(length(html)
                - length(regexp_replace(html, '(?s)<!--.*?-->', '', 'g'))
               AS BIGINT) AS comment_chars
    FROM u
    """,
)
def q_html_comment_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML comment stripping — comments carry tracking payloads, dead
    markup, and IE conditional blocks that must not reach extracted
    text; this is the pre-pass count + strip with conditional-comment
    detection. Non-greedy dotall regexp so adjacent comments never merge
    across the gap. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _COMMENT_HTML, "html")
    pat = r"(?s)<!--.*?-->"
    stripped = F.regexp_replace("html", pat, "")
    return docs.select(
        "doc",
        F.size(F.regexp_extract_all("html", F.lit(pat), F.lit(0)))
        .cast("bigint").alias("n_comments"),
        F.col("html").rlike(r"(?s)<!--\[if\s").cast("int")
        .alias("has_conditional"),
        stripped.alias("stripped"),
        (F.length("html") - F.length(stripped)).cast("bigint")
        .alias("comment_chars"),
    )


_AMP_HTML = (
    ['<html><link rel="amphtml" href="https://m.site/amp/', 5,
     '"><body>canonical page'],
    ['<html amp><link rel="canonical" href="https://site/p', 3,
     '"><body>amp page'],
    ["<html ⚡><body>emoji amp page"],
    ["<html><body>ordinary page ", _DOC_ID],
)
_AMP_HTML_SQL = _docs_sql(_AMP_HTML, "html")


@query(
    "amp_variant_detect",
    f"""
    WITH u AS ({_AMP_HTML_SQL})
    SELECT doc,
           nullif({_meta_paired_sql('link', 'rel', 'amphtml', 'href')}, '')
             AS amp_url,
           CAST(regexp_matches(html, '(?i)<html[^>]*(\\s(amp|⚡))([\\s>]|$)')
                AS INT) AS is_amp_page,
           nullif({_meta_paired_sql('link', 'rel', 'canonical', 'href')}, '')
             AS canonical_url
    FROM u
    """,
)
def q_amp_variant_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMP variant detection — AMP mirrors are the highest-volume
    near-duplicate family in a web crawl; a corpus that keeps both the
    canonical and its AMP twin double-counts the content. Detects the
    rel="amphtml" pointer on canonical pages and the <html amp>/<html ⚡>
    marker (plus its rel="canonical" backlink) on AMP pages, the two
    sides dedup needs to pair them. Zero-shuffle projection."""
    from ocr_spark.functions.curation import _paired_attr

    docs = _docs(spark, sf_dir, _AMP_HTML, "html")
    h = F.col("html")
    return docs.select(
        "doc",
        F.nullif(_paired_attr(h, "link", "rel", "amphtml", "href"),
                 F.lit("")).alias("amp_url"),
        h.rlike(r"(?i)<html[^>]*(\s(amp|⚡))([\s>]|$)").cast("int")
        .alias("is_amp_page"),
        F.nullif(_paired_attr(h, "link", "rel", "canonical", "href"),
                 F.lit("")).alias("canonical_url"),
    )


_CAPTURE_HISTORY_SQL = """
    SELECT d.doc_id AS url_id,
           u.k AS k,
           (d.doc_id * 7 + u.k // (1 + d.doc_id % 3)) AS digest
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
                    0, CAST(2 + d.doc_id % 4 AS BIGINT))) AS k) u
"""


@query(
    "crawl_change_rate",
    f"""
    WITH caps AS ({_CAPTURE_HISTORY_SQL}),
    flags AS (
      SELECT url_id, k,
             CASE WHEN digest != LAG(digest) OVER w THEN 1 ELSE 0 END
               AS changed,
             CASE WHEN LAG(digest) OVER w IS NULL THEN 0 ELSE 1 END
               AS is_interval
      FROM caps
      WINDOW w AS (PARTITION BY url_id ORDER BY k)),
    est AS (
      SELECT url_id,
             CAST(SUM(is_interval) AS BIGINT) AS n_intervals,
             CAST(SUM(changed) AS BIGINT) AS n_changes
      FROM flags GROUP BY url_id)
    SELECT url_id, n_intervals, n_changes,
           CAST(ROUND(-LN((n_intervals - n_changes + 0.5)
                          / (n_intervals + 0.5)) * 1000000) AS BIGINT)
             AS lambda_micro,
           CASE
             WHEN ROUND(-LN((n_intervals - n_changes + 0.5)
                            / (n_intervals + 0.5)) * 1000000) >= 600000
               THEN 'fast'
             WHEN ROUND(-LN((n_intervals - n_changes + 0.5)
                            / (n_intervals + 0.5)) * 1000000) >= 250000
               THEN 'medium'
             ELSE 'slow'
           END AS revisit_tier
    FROM est
    """,
)
def q_crawl_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson change-rate estimation per url from recrawl history — the
    Cho & Garcia-Molina estimator r̂ = -ln((n - X + 0.5)/(n + 0.5)) over
    n revisit intervals of which X observed a content-digest change (the
    +0.5 terms are the bias correction that keeps the estimate finite
    when every revisit changed). Drives revisit scheduling: 'fast' hosts
    get recrawled often, 'slow' ones archived. Capture histories are the
    deterministic synthetic (url changes every 1+url%3 fetches); the
    real input is the CDX capture table (cdx_index). One url-keyed
    window then a url-keyed agg — the window's shuffle partitioning is
    reused by the agg, so one Exchange total; ln is the only float op,
    applied once per url to a ratio of exact integers and rounded to
    micro-units, the suite's cross-engine-stable pattern."""
    d = _cpu(spark, sf_dir, "documents").select("doc_id")
    caps = d.select(
        F.col("doc_id").alias("url_id"),
        F.explode(F.sequence(F.lit(0), (F.lit(2) + F.col("doc_id") % 4)
                             .cast("bigint"))).alias("k"),
    ).select(
        "url_id", "k",
        (F.col("url_id") * 7
         + F.expr("k div (1 + url_id % 3)")).alias("digest"))
    w = Window.partitionBy("url_id").orderBy("k")
    prev = F.lag("digest").over(w)
    flags = caps.select(
        "url_id",
        F.when(prev.isNull(), 0).otherwise(1).alias("is_interval"),
        F.when(F.col("digest") != prev, 1).otherwise(0).alias("changed"))
    est = flags.groupBy("url_id").agg(
        F.sum("is_interval").cast("bigint").alias("n_intervals"),
        F.sum("changed").cast("bigint").alias("n_changes"))
    lam = F.round(
        -F.log((F.col("n_intervals") - F.col("n_changes") + 0.5)
               / (F.col("n_intervals") + 0.5)) * 1000000)
    return est.select(
        "url_id", "n_intervals", "n_changes",
        lam.cast("bigint").alias("lambda_micro"),
        F.when(lam >= 600000, "fast")
        .when(lam >= 250000, "medium")
        .otherwise("slow").alias("revisit_tier"))


_PAYWALL_HTML = (
    ['<script type="application/ld+json">{"isAccessibleForFree": '
     "false}</script><p>Article intro ", 7, "</p><div "
     'class="paywall">Subscribe to continue reading</div>'],
    ["<p>free article body ", 9, "</p>"],
    ['<div class="subscribe-wall">Already a subscriber? Log '
     "in</div><p>teaser ", 4, "</p>"],
    ['<script type="application/ld+json">{"isAccessibleForFree": '
     "true}</script><p>open news ", 6, "</p>"],
    ["<p>Sign up for our newsletter</p><p>content ", _DOC_ID,
     "</p>"],
)
_PAYWALL_HTML_SQL = _docs_sql(_PAYWALL_HTML, "html")


@query(
    "paywall_detect",
    f"""
    WITH u AS ({_PAYWALL_HTML_SQL})
    SELECT doc,
           CAST(regexp_matches(html,
                '"isAccessibleForFree"\\s*:\\s*false') AS INT)
             AS jsonld_not_free,
           CAST(regexp_matches(html,
                'class="[^"]*(paywall|subscribe-wall|meteredContent)')
               AS INT) AS wall_class,
           CAST(regexp_matches(html,
                '(Subscribe to continue|Already a subscriber)') AS INT)
             AS cta_phrase,
           CAST(CASE WHEN regexp_matches(html,
                  '"isAccessibleForFree"\\s*:\\s*false')
                 OR regexp_matches(html,
                  'class="[^"]*(paywall|subscribe-wall|meteredContent)')
                 OR regexp_matches(html,
                  '(Subscribe to continue|Already a subscriber)')
                THEN 1 ELSE 0 END AS INT) AS paywalled
    FROM u
    """,
)
def q_paywall_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paywall / login-wall detection — paywalled teasers are truncated,
    low-value training text that inflates dedup clusters (every teaser of
    one article is near-identical), so corpus curation gates them out.
    Three independent signals: the schema.org JSON-LD
    ``isAccessibleForFree: false`` declaration (the spec-compliant
    channel), wall-container CSS classes, and call-to-action phrases;
    a newsletter CTA (the common false-positive) trips none of them.
    Zero-shuffle projection over the page scan."""
    docs = _docs(spark, sf_dir, _PAYWALL_HTML, "html")
    not_free = F.col("html").rlike(r'"isAccessibleForFree"\s*:\s*false')
    wall = F.col("html").rlike(
        'class="[^"]*(paywall|subscribe-wall|meteredContent)')
    cta = F.col("html").rlike("(Subscribe to continue|Already a subscriber)")
    return docs.select(
        "doc",
        not_free.cast("int").alias("jsonld_not_free"),
        wall.cast("int").alias("wall_class"),
        cta.cast("int").alias("cta_phrase"),
        (not_free | wall | cta).cast("int").alias("paywalled"))


_LICENSE_HTML = (
    ['<a rel="license" '
     'href="https://creativecommons.org/licenses/by/4.0/">CC BY '
     "4.0</a><p>article ", 5, "</p>"],
    ['<a rel="license" '
     'href="https://creativecommons.org/licenses/by-nc-nd/3.0/">some rights '
     "reserved</a>"],
    ["<p>Copyright 2024 Example Corp. All rights reserved.</p>"],
    ["// SPDX-License-Identifier: MIT\ncode body ", 7],
    ['<p>Dedicated to the public domain.</p><a rel="license" '
     'href="https://creativecommons.org/publicdomain/zero/1.0/">CC0</a>'],
    ["<p>no license info ", _DOC_ID, "</p>"],
)
_LICENSE_HTML_SQL = _docs_sql(_LICENSE_HTML, "html")


@query(
    "license_detect",
    f"""
    WITH u AS ({_LICENSE_HTML_SQL}),
    ext AS (
      SELECT doc,
             nullif(regexp_extract(html,
               'creativecommons\\.org/(licenses|publicdomain)/([a-z-]+)/',
               2), '') AS cc_variant,
             nullif(regexp_extract(html,
               'SPDX-License-Identifier: ([A-Za-z0-9.-]+)', 1), '')
               AS spdx_id,
             CAST(regexp_matches(html, 'All rights reserved') AS INT)
               AS all_rights_reserved
      FROM u)
    SELECT doc, cc_variant, spdx_id, all_rights_reserved,
           CAST(CASE WHEN cc_variant IN ('by', 'by-sa', 'zero')
                       OR spdx_id IN ('MIT', 'Apache-2.0', 'BSD-3-Clause')
                THEN 1 ELSE 0 END AS INT) AS redistributable
    FROM ext
    """,
)
def q_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License detection — training-data curation must separate
    redistributable content (CC BY/BY-SA/CC0, permissive SPDX) from
    all-rights-reserved and NC/ND-restricted pages BEFORE anything else
    touches the corpus. Signals: the rel=license CC URL (machine-readable
    channel, variant slug extracted from the path), SPDX identifiers
    (the code-corpus channel), and the all-rights-reserved text marker.
    Zero-shuffle projection; the variant slug — not the page — is what
    downstream policy joins on."""
    docs = _docs(spark, sf_dir, _LICENSE_HTML, "html")
    cc = F.nullif(F.regexp_extract(
        "html", r"creativecommons\.org/(licenses|publicdomain)/([a-z-]+)/",
        2), F.lit(""))
    spdx = F.nullif(F.regexp_extract(
        "html", r"SPDX-License-Identifier: ([A-Za-z0-9.-]+)", 1),
        F.lit(""))
    return docs.select(
        "doc", cc.alias("cc_variant"), spdx.alias("spdx_id"),
        F.col("html").rlike("All rights reserved").cast("int")
        .alias("all_rights_reserved"),
        # NULL-safe: a page with no license signal is NOT redistributable
        # (isin on NULL yields NULL, which must read as 0, not unknown)
        F.coalesce(cc.isin("by", "by-sa", "zero").cast("int"), F.lit(0))
        .bitwiseOR(F.coalesce(
            spdx.isin("MIT", "Apache-2.0", "BSD-3-Clause").cast("int"),
            F.lit(0)))
        .cast("int").alias("redistributable"))


_AD_HTML = (
    ['<div class="content"><p>real text ', 5, "</p></div><div "
     'class="ad-banner">Buy now!</div><div id="ads-footer">promo</div>'],
    ['<iframe src="https://adserver.example/slot1"></iframe><p>short ', 3,
     "</p>"],
    ['<div class="article"><p>long clean article body ', 7, "</p></div>"],
    ['<div class="sponsored">Sponsored content</div><script '
     'src="https://ads.example/t.js"></script><p>mix ', _DOC_ID,
     "</p>"],
)
_AD_HTML_SQL = _docs_sql(_AD_HTML, "html")


@query(
    "ad_density",
    f"""
    WITH u AS ({_AD_HTML_SQL})
    SELECT doc,
           CAST(len(regexp_extract_all(html,
                '(class|id)="[^"]*(ad-|ads|advert|sponsor|promo)')) AS BIGINT)
             AS n_ad_containers,
           CAST(len(regexp_extract_all(html, '<iframe ')) AS BIGINT)
             AS n_iframes,
           CAST(len(regexp_extract_all(html,
                '<script src="[^"]*(ads|adserver)')) AS BIGINT)
             AS n_ad_scripts,
           CAST(CASE WHEN len(regexp_extract_all(html,
                  '(class|id)="[^"]*(ad-|ads|advert|sponsor|promo)'))
                 + len(regexp_extract_all(html, '<iframe '))
                 + len(regexp_extract_all(html,
                  '<script src="[^"]*(ads|adserver)')) >= 2
                THEN 1 ELSE 0 END AS INT) AS ad_heavy
    FROM u
    """,
)
def q_ad_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-density scoring — ad-farm pages (MFA, 'made for advertising')
    are the highest-volume low-quality stratum of any crawl; counting ad
    containers by class/id signature, ad iframes, and ad-network script
    tags is the deterministic pre-filter before quality models. The
    ad_heavy gate (≥2 independent ad signals) feeds the curation funnel
    next to quality_gate. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _AD_HTML, "html")
    containers = F.size(F.regexp_extract_all(
        "html", F.lit('(class|id)="[^"]*(ad-|ads|advert|sponsor|promo)'),
        F.lit(0)))
    iframes = F.size(F.regexp_extract_all("html", F.lit("<iframe "),
                                          F.lit(0)))
    scripts = F.size(F.regexp_extract_all(
        "html", F.lit('<script src="[^"]*(ads|adserver)'), F.lit(0)))
    return docs.select(
        "doc",
        containers.cast("bigint").alias("n_ad_containers"),
        iframes.cast("bigint").alias("n_iframes"),
        scripts.cast("bigint").alias("n_ad_scripts"),
        ((containers + iframes + scripts) >= 2).cast("int")
        .alias("ad_heavy"))


_BYLINE_TEXT = (
    ["By Jane Smith\nMarkets rallied strongly today in early trading ", 5],
    ["LONDON (Reuters) - Markets rose on Tuesday session ", 3],
    ["Updated analysis of quarterly results without attribution ", 7],
    ["By Arun Patel | Staff Writer\nThe council approved the plan ", 3],
)
_BYLINE_TEXT_SQL = _docs_sql(_BYLINE_TEXT, "text")

_BYLINE_SQL = (
    "WITH u AS (" + _BYLINE_TEXT_SQL + ")"
    """
    SELECT doc,
           nullif(regexp_extract(text,
               '(?m)^By ([A-Z][a-z]+ [A-Z][a-z]+)', 1), '') AS byline,
           nullif(regexp_extract(text,
               '^([A-Z]{2,}[A-Z ]*) \\(', 1), '') AS dateline_city,
           nullif(regexp_extract(text,
               '^[A-Z]{2,}[A-Z ]* \\(([A-Za-z ]+)\\) -', 1), '') AS agency,
           CAST(CASE WHEN nullif(regexp_extract(text,
                    '(?m)^By ([A-Z][a-z]+ [A-Z][a-z]+)', 1), '')
                    IS NOT NULL
                  OR nullif(regexp_extract(text,
                    '^[A-Z]{2,}[A-Z ]* \\(([A-Za-z ]+)\\) -', 1), '')
                    IS NOT NULL
                THEN 1 ELSE 0 END AS INT) AS has_attribution
    FROM u
    """
)


@query("byline_extract", _BYLINE_SQL)
def q_byline_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """News byline / dateline extraction — 'By First Last' author lines
    and 'CITY (Agency) -' wire datelines are the provenance metadata a
    news-corpus pipeline carries per article (source weighting, per-
    author dedup of syndicated copy). Line-anchored so a mid-sentence
    'By' never extracts; missing fields are NULL, never ''. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _BYLINE_TEXT, "text")
    byline = F.nullif(F.regexp_extract(
        "text", r"(?m)^By ([A-Z][a-z]+ [A-Z][a-z]+)", 1), F.lit(""))
    city = F.nullif(F.regexp_extract(
        "text", r"^([A-Z]{2,}[A-Z ]*) \(", 1), F.lit(""))
    agency = F.nullif(F.regexp_extract(
        "text", r"^[A-Z]{2,}[A-Z ]* \(([A-Za-z ]+)\) -", 1), F.lit(""))
    return docs.select(
        "doc", byline.alias("byline"), city.alias("dateline_city"),
        agency.alias("agency"),
        (byline.isNotNull() | agency.isNotNull()).cast("int")
        .alias("has_attribution"))


_COMMSEC_TEXT = (
    ["Article body here.\n42 Comments\nLeave a Reply\nYour email address "
     "will not be published ", 3],
    ["Great post! Reply\nThanks for sharing! Reply\nposted by reader ", 5],
    ["The committee reviewed the findings in detail ", 7],
    ["Comments are closed.\nRelated posts follow ", 3],
)
_COMMSEC_TEXT_SQL = _docs_sql(_COMMSEC_TEXT, "text")

_COMMSEC_SQL = (
    "WITH u AS (" + _COMMSEC_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)([0-9]+ comments?|leave a reply|comments are '
                  || 'closed|your email address will not be published)'
                  )) AS BIGINT) AS n_comment_markers,
             CAST(len(regexp_extract_all(text, '\\bReply\\b'))
                  AS BIGINT) AS n_reply_markers
      FROM u)
    SELECT doc, n_comment_markers, n_reply_markers,
           CAST(CASE WHEN n_comment_markers >= 1 OR n_reply_markers >= 2
                THEN 1 ELSE 0 END AS INT) AS has_comment_section
    FROM m
    """
)


@query("comment_section_detect", _COMMSEC_SQL)
def q_comment_section_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-section detection — user comments trailing an article are
    a separate register (low-quality, repetitive, PII-bearing) that
    extraction should cut at the '42 Comments' / 'Leave a Reply'
    boundary. Platform chrome phrases count once each; repeated bare
    'Reply' buttons need >=2 hits so one quoted 'Reply' in prose never
    flags. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _COMMSEC_TEXT, "text")
    markers = F.size(F.regexp_extract_all(
        "text",
        F.lit("(?i)([0-9]+ comments?|leave a reply|comments are closed"
              "|your email address will not be published)"), F.lit(0)))
    replies = F.size(F.regexp_extract_all(
        "text", F.lit(r"\bReply\b"), F.lit(0)))
    base = docs.select(
        "doc", markers.cast("bigint").alias("n_comment_markers"),
        replies.cast("bigint").alias("n_reply_markers"))
    return base.select(
        "doc", "n_comment_markers", "n_reply_markers",
        ((F.col("n_comment_markers") >= 1)
         | (F.col("n_reply_markers") >= 2)).cast("int")
        .alias("has_comment_section"))


_PRODUCT_TEXT = (
    ["Only $19.99 now! Add to cart. SKU: AB-1234. In stock units ", 5],
    ['<script type="application/ld+json">{"@type": '
     '"Product"}</script>Deluxe widget ', 3],
    ["The museum charges $12.50 for adult admission on weekdays ", 7],
    ["Free shipping on orders over $50.00! Buy now and save. Checkout today ",
     3],
)
_PRODUCT_TEXT_SQL = _docs_sql(_PRODUCT_TEXT, "text")

_PRODUCT_SQL = (
    "WITH u AS (" + _PRODUCT_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '\\$[0-9]+\\.[0-9]{2}\\b')) AS BIGINT) AS n_prices,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(add to cart|buy now|checkout|free shipping|'
                  || 'in stock)\\b')) AS BIGINT) AS n_cart_ctas,
             CAST(CASE WHEN regexp_matches(text, 'SKU[:#]? ?[A-Z0-9-]+')
                THEN 1 ELSE 0 END AS INT) AS has_sku,
             CAST(CASE WHEN strpos(text, '"@type": "Product"') > 0
                THEN 1 ELSE 0 END AS INT) AS product_schema
      FROM u)
    SELECT doc, n_prices, n_cart_ctas, has_sku, product_schema,
           CAST(CASE WHEN (n_cart_ctas >= 1 AND n_prices >= 1)
                      OR has_sku = 1 OR product_schema = 1
                THEN 1 ELSE 0 END AS INT) AS is_product
    FROM m
    """
)


@query("product_page_detect", _PRODUCT_SQL)
def q_product_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-commerce product-page detection — catalog pages are the single
    largest template-duplicated stratum of a crawl; price patterns plus
    cart CTAs, SKU markers, or schema.org Product JSON-LD route them out
    of the prose corpus (or into a product-catalog corpus). A lone price
    in prose ('museum charges $12.50') never gates — CTAs must
    co-occur. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _PRODUCT_TEXT, "text")
    prices = F.size(F.regexp_extract_all(
        "text", F.lit(r"\$[0-9]+\.[0-9]{2}\b"), F.lit(0)))
    ctas = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(add to cart|buy now|checkout|free shipping"
              r"|in stock)\b"), F.lit(0)))
    sku = F.col("text").rlike("SKU[:#]? ?[A-Z0-9-]+").cast("int")
    schema = F.col("text").contains('"@type": "Product"').cast("int")
    base = docs.select(
        "doc", prices.cast("bigint").alias("n_prices"),
        ctas.cast("bigint").alias("n_cart_ctas"),
        sku.alias("has_sku"), schema.alias("product_schema"))
    return base.select(
        "doc", "n_prices", "n_cart_ctas", "has_sku", "product_schema",
        (((F.col("n_cart_ctas") >= 1) & (F.col("n_prices") >= 1))
         | (F.col("has_sku") == 1) | (F.col("product_schema") == 1))
        .cast("int").alias("is_product"))


_RECIPE_TEXT = (
    ['<script type="application/ld+json">{"@type": "Recipe"}</script>Best '
     "pancakes ", 3],
    ["Ingredients:\n2 cups flour\n1 tsp salt\n3 tbsp butter\nInstructions:\n"
     "1. Mix the dry items.\n2. Add butter ", 5],
    ["The bakery on Main Street expanded its seating area ", 7],
    ["Preheat the oven to 350 degrees. Combine 2 cups sugar with 1 cup "
     "cocoa. Bake for 30 minutes batch ", 3],
)
_RECIPE_TEXT_SQL = _docs_sql(_RECIPE_TEXT, "text")

_RECIPE_SQL = (
    "WITH u AS (" + _RECIPE_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN strpos(text, '"@type": "Recipe"') > 0
                THEN 1 ELSE 0 END AS INT) AS recipe_schema,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[0-9]+(/[0-9]+)? (cups?|tsp|tbsp|grams?|oz|ml) '
                  )) AS BIGINT) AS n_quantity_lines,
             CAST(len(regexp_extract_all(text,
                  '\\b[0-9]+ (cups?|tsp|tbsp|grams?|oz|ml)\\b'))
                  AS BIGINT) AS n_inline_qty,
             CAST(len(regexp_extract_all(text, '(?m)^[0-9]+\\. '))
                  AS BIGINT) AS n_step_lines,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(preheat|bake|simmer|whisk|knead|saute|'
                  || 'marinate)\\b')) AS BIGINT) AS n_cook_verbs
      FROM u)
    SELECT doc, recipe_schema, n_quantity_lines, n_inline_qty,
           n_step_lines, n_cook_verbs,
           CAST(CASE WHEN recipe_schema = 1 OR n_quantity_lines >= 2
                      OR (n_cook_verbs >= 2 AND n_inline_qty >= 1)
                THEN 1 ELSE 0 END AS INT) AS is_recipe
    FROM m
    """
)


@query("recipe_detect", _RECIPE_SQL)
def q_recipe_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe-page detection — schema.org Recipe JSON-LD, line-anchored
    ingredient quantities ('2 cups flour'), numbered steps, and cooking
    verbs. Recipe sites are heavily templated and syndicated, so this
    routes them to a structured extractor (ingredients/steps) instead of
    prose cleaning; a bakery news story never gates. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _RECIPE_TEXT, "text")
    schema = F.col("text").contains('"@type": "Recipe"').cast("int")
    qty_lines = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^[0-9]+(/[0-9]+)? (cups?|tsp|tbsp|grams?"
                      "|oz|ml) "), F.lit(0)))
    inline_qty = F.size(F.regexp_extract_all(
        "text", F.lit(r"\b[0-9]+ (cups?|tsp|tbsp|grams?|oz|ml)\b"),
        F.lit(0)))
    steps = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?m)^[0-9]+\. "), F.lit(0)))
    verbs = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(preheat|bake|simmer|whisk|knead|saute|marinate)\b"),
        F.lit(0)))
    base = docs.select(
        "doc", schema.alias("recipe_schema"),
        qty_lines.cast("bigint").alias("n_quantity_lines"),
        inline_qty.cast("bigint").alias("n_inline_qty"),
        steps.cast("bigint").alias("n_step_lines"),
        verbs.cast("bigint").alias("n_cook_verbs"))
    return base.select(
        "doc", "recipe_schema", "n_quantity_lines", "n_inline_qty",
        "n_step_lines", "n_cook_verbs",
        ((F.col("recipe_schema") == 1) | (F.col("n_quantity_lines") >= 2)
         | ((F.col("n_cook_verbs") >= 2) & (F.col("n_inline_qty") >= 1)))
        .cast("int").alias("is_recipe"))


_HOWTO_TEXT = (
    ['<script type="application/ld+json">{"@type": "HowTo"}</script>Fix a '
     "flat tire ", 3],
    ["Step 1: Unplug the router.\nStep 2: Wait ten seconds.\nStep 3: Plug "
     "it back in ", 5],
    ["1. Open the settings menu.\n2. Select privacy.\n3. Toggle the "
     "switch.\n4. Restart the app ", 3],
    ["The committee discussed several approaches at length ", 7],
)
_HOWTO_TEXT_SQL = _docs_sql(_HOWTO_TEXT, "text")

_HOWTO_SQL = (
    "WITH u AS (" + _HOWTO_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN strpos(text, '"@type": "HowTo"') > 0
                THEN 1 ELSE 0 END AS INT) AS howto_schema,
             CAST(len(regexp_extract_all(text,
                  '(?m)^Step [0-9]+[:.]')) AS BIGINT) AS n_step_markers,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[0-9]+\\. [A-Z]')) AS BIGINT) AS n_numbered_steps
      FROM u)
    SELECT doc, howto_schema, n_step_markers, n_numbered_steps,
           CAST(CASE WHEN howto_schema = 1 OR n_step_markers >= 2
                      OR n_numbered_steps >= 3
                THEN 1 ELSE 0 END AS INT) AS is_howto
    FROM m
    """
)


@query("howto_detect", _HOWTO_SQL)
def q_howto_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How-to / procedural-content detection — 'Step N:' markers,
    capitalized numbered-step lines, and HowTo JSON-LD mark stepwise
    instructional pages, the highest-value stratum for instruction-
    following data. Thresholds (2 step markers / 3 numbered steps) keep
    a single enumerated aside in prose from gating. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _HOWTO_TEXT, "text")
    schema = F.col("text").contains('"@type": "HowTo"').cast("int")
    markers = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^Step [0-9]+[:.]"), F.lit(0)))
    numbered = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?m)^[0-9]+\. [A-Z]"), F.lit(0)))
    base = docs.select(
        "doc", schema.alias("howto_schema"),
        markers.cast("bigint").alias("n_step_markers"),
        numbered.cast("bigint").alias("n_numbered_steps"))
    return base.select(
        "doc", "howto_schema", "n_step_markers", "n_numbered_steps",
        ((F.col("howto_schema") == 1) | (F.col("n_step_markers") >= 2)
         | (F.col("n_numbered_steps") >= 3)).cast("int")
        .alias("is_howto"))


_REVIEW_TEXT = (
    ["Rated 4.5 out of 5 stars by 230 buyers. Pros: light, fast. Cons: "
     "pricey. Verified Purchase ", 3],
    ["★★★★☆ Great value for the money. Would buy again ", 5],
    ['<script type="application/ld+json">{"@type": "Review"}</script>Editor '
     "opinion ", 3],
    ["The committee rated the proposal favorably in its report ", 7],
)
_REVIEW_TEXT_SQL = _docs_sql(_REVIEW_TEXT, "text")

_REVIEW_SQL = (
    "WITH u AS (" + _REVIEW_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b[0-9](\\.[0-9])? out of [0-9] stars?\\b'))
                  AS BIGINT) AS n_rating_phrases,
             CAST(len(regexp_extract_all(text, '★{2,}')) AS BIGINT)
               AS n_star_runs,
             CAST(CASE WHEN strpos(text, '"@type": "Review"') > 0
                THEN 1 ELSE 0 END AS INT) AS review_schema,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(verified purchase|pros:|cons:|'
                  || 'would buy again)')) AS BIGINT) AS n_review_markers
      FROM u)
    SELECT doc, n_rating_phrases, n_star_runs, review_schema,
           n_review_markers,
           CAST(CASE WHEN n_rating_phrases >= 1 OR n_star_runs >= 1
                      OR review_schema = 1 OR n_review_markers >= 2
                THEN 1 ELSE 0 END AS INT) AS is_review
    FROM m
    """
)


@query("review_page_detect", _REVIEW_SQL)
def q_review_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Review-page detection — 'N out of 5 stars' phrases, star-glyph
    runs, Review JSON-LD, and platform markers (Verified Purchase,
    Pros:/Cons:) route opinion/review content for sentiment corpora and
    dedup of syndicated product reviews. 'The committee rated the
    proposal' has the verb but no rating shape — the false-positive
    control. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _REVIEW_TEXT, "text")
    ratings = F.size(F.regexp_extract_all(
        "text", F.lit(r"(?i)\b[0-9](\.[0-9])? out of [0-9] stars?\b"),
        F.lit(0)))
    stars = F.size(F.regexp_extract_all("text", F.lit("★{2,}"), F.lit(0)))
    schema = F.col("text").contains('"@type": "Review"').cast("int")
    markers = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?i)\b(verified purchase|pros:|cons:|would buy again)"),
        F.lit(0)))
    base = docs.select(
        "doc", ratings.cast("bigint").alias("n_rating_phrases"),
        stars.cast("bigint").alias("n_star_runs"),
        schema.alias("review_schema"),
        markers.cast("bigint").alias("n_review_markers"))
    return base.select(
        "doc", "n_rating_phrases", "n_star_runs", "review_schema",
        "n_review_markers",
        ((F.col("n_rating_phrases") >= 1) | (F.col("n_star_runs") >= 1)
         | (F.col("review_schema") == 1)
         | (F.col("n_review_markers") >= 2)).cast("int")
        .alias("is_review"))


_DIRLIST_TEXT = (
    ["Index of /pub/files\nName Last modified Size\nreport.pdf 2024-01-05 "
     "10:22 1.2M\ndata.csv 2024-01-06 11:03 480K\nParent Directory batch ", 3],
    ["drwxr-xr-x 2 root root 4096 Jan 5 10:22 logs\n-rw-r--r-- 1 root root "
     "1048576 Jan 6 11:03 dump.bin case ", 5],
    ["The archive of letters was donated to the library ", 7],
    ["README.txt 2024-02-01 09:15 2K\nCHANGELOG.md 2024-02-02 14:40 11K\n"
     "setup.sh 2024-02-03 16:05 1K list ", 3],
)
_DIRLIST_TEXT_SQL = _docs_sql(_DIRLIST_TEXT, "text")

_DIRLIST_SQL = (
    "WITH u AS (" + _DIRLIST_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN regexp_matches(text, '(?m)^Index of /')
                THEN 1 ELSE 0 END AS INT) AS has_index_header,
             CAST(len(regexp_extract_all(text,
                  '(?m)^[A-Za-z0-9_.-]+\\.[a-z]{1,4} [0-9]{4}-[0-9]{2}-'
                  || '[0-9]{2} [0-9]{2}:[0-9]{2} [0-9.]+[KMG]?'))
                  AS BIGINT) AS n_file_rows,
             CAST(len(regexp_extract_all(text, '(?m)^[d-][rwx-]{9} '))
                  AS BIGINT) AS n_perm_strings
      FROM u)
    SELECT doc, has_index_header, n_file_rows, n_perm_strings,
           CAST(CASE WHEN has_index_header = 1 OR n_file_rows >= 2
                      OR n_perm_strings >= 2
                THEN 1 ELSE 0 END AS INT) AS is_listing
    FROM m
    """
)


@query("directory_listing_detect", _DIRLIST_SQL)
def q_directory_listing_detect(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Auto-index directory-listing detection — Apache/nginx 'Index of'
    pages and ls -l dumps are pure crawl noise that inflates host page
    counts and poisons dedup shingles with filename tables. Signals:
    the Index-of header, filename + date + size rows, and unix
    permission strings. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _DIRLIST_TEXT, "text")
    header = F.col("text").rlike("(?m)^Index of /").cast("int")
    frows = F.size(F.regexp_extract_all(
        "text",
        F.lit(r"(?m)^[A-Za-z0-9_.-]+\.[a-z]{1,4} [0-9]{4}-[0-9]{2}"
              r"-[0-9]{2} [0-9]{2}:[0-9]{2} [0-9.]+[KMG]?"), F.lit(0)))
    perms = F.size(F.regexp_extract_all(
        "text", F.lit("(?m)^[d-][rwx-]{9} "), F.lit(0)))
    base = docs.select(
        "doc", header.alias("has_index_header"),
        frows.cast("bigint").alias("n_file_rows"),
        perms.cast("bigint").alias("n_perm_strings"))
    return base.select(
        "doc", "has_index_header", "n_file_rows", "n_perm_strings",
        ((F.col("has_index_header") == 1) | (F.col("n_file_rows") >= 2)
         | (F.col("n_perm_strings") >= 2)).cast("int")
        .alias("is_listing"))


_FORUM_TEXT = (
    ["Posted by alice on 2024-01-05\nHas anyone tried the new firmware?\n"
     "Posted by bob on 2024-01-05\nYes, works fine for me.\nPosted by alice "
     "on 2024-01-06\nThanks! batch ", 3],
    ["Posted by solo_user on 2024-03-01\nFirst! case ", 5],
    ["The observatory posted new images of the nebula ", 7],
    ["Re: Upgrade question\nPosted by carol on 2024-02-02\nQuoting earlier: "
     "it depends.\nPosted by dave on 2024-02-03\nAgreed entirely ", 3],
)
_FORUM_TEXT_SQL = _docs_sql(_FORUM_TEXT, "text")

_FORUM_SQL = (
    "WITH u AS (" + _FORUM_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(text,
                  '(?m)^Posted by [a-z_]+ on [0-9]{4}-[0-9]{2}-[0-9]{2}'
                  )) AS BIGINT) AS n_posts,
             CAST(len(list_distinct(regexp_extract_all(text,
                  '(?m)^Posted by ([a-z_]+) on [0-9]{4}-[0-9]{2}-'
                  || '[0-9]{2}', 1))) AS BIGINT) AS n_authors,
             CAST(CASE WHEN regexp_matches(text, '(?m)^Re: ')
                THEN 1 ELSE 0 END AS INT) AS has_re_subject
      FROM u)
    SELECT doc, n_posts, n_authors, has_re_subject,
           CAST(CASE WHEN n_posts >= 2 THEN 1 ELSE 0 END AS INT)
             AS is_thread
    FROM m
    """
)


@query("forum_thread_parse", _FORUM_SQL)
def q_forum_thread_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forum-thread structure parsing — post boundaries ('Posted by X on
    DATE'), distinct author count (via group extraction, in-row
    distinct), and Re: subject markers. Threads with >=2 posts are the
    conversational stratum dialogue corpora mine; a single-post page is
    not a thread, and 'The observatory posted ...' prose never counts
    (line-anchored marker). Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _FORUM_TEXT, "text")
    post_pat = "(?m)^Posted by ([a-z_]+) on [0-9]{4}-[0-9]{2}-[0-9]{2}"
    posts = F.size(F.regexp_extract_all("text", F.lit(post_pat), F.lit(0)))
    authors = F.size(F.array_distinct(
        F.regexp_extract_all("text", F.lit(post_pat), F.lit(1))))
    re_subj = F.col("text").rlike("(?m)^Re: ").cast("int")
    base = docs.select(
        "doc", posts.cast("bigint").alias("n_posts"),
        authors.cast("bigint").alias("n_authors"),
        re_subj.alias("has_re_subject"))
    return base.select(
        "doc", "n_posts", "n_authors", "has_re_subject",
        (F.col("n_posts") >= 2).cast("int").alias("is_thread"))


_JSONL_TEXT = (
    ['{"title": "Post ', 5, '", "views": ', 100, ', "tags": ["a", "b"]}'],
    ['{"title": "Broken'],
    ['{"views": 7}'],
    ['{"title": "X", "views": "many"}'],
)
_JSONL_TEXT_SQL = _docs_sql(_JSONL_TEXT, "raw")

_JSONL_SQL = (
    "WITH u AS (" + _JSONL_TEXT_SQL + ")"
    """
    SELECT doc,
           CASE WHEN json_valid(raw)
                THEN json_extract_string(raw, '$.title') END AS title,
           CAST(CASE WHEN json_valid(raw)
                      AND json_type(raw, '$.views')
                          IN ('UBIGINT', 'BIGINT')
                THEN json_extract_string(raw, '$.views') END AS BIGINT)
             AS views,
           CAST(CASE WHEN json_valid(raw)
                THEN json_array_length(raw, '$.tags') END AS BIGINT)
             AS n_tags,
           CAST(CASE WHEN NOT json_valid(raw) THEN 1
                     WHEN json_type(raw, '$.views') IS NOT NULL
                      AND json_type(raw, '$.views')
                          NOT IN ('UBIGINT', 'BIGINT')
                     THEN 1 ELSE 0 END AS INT) AS is_corrupt
    FROM u
    """
)


@query("jsonl_ingest", _JSONL_SQL)
def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-record routing — the schema-on-read
    front door for API dumps and event exports. Spark's PERMISSIVE
    ``from_json`` with ``columnNameOfCorruptRecord`` extracts every
    coercible field AND flags the record when the JSON is malformed or
    a field fails coercion ('views': "many" keeps title='X' but routes
    to the corrupt lane for re-ingest — never silently dropped, never
    a failed job). Missing fields are NULL without flagging. The oracle
    twin reproduces the exact PERMISSIVE semantics via json_valid +
    json_type. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _JSONL_TEXT, "raw")
    parsed = F.from_json(
        "raw",
        "title string, views bigint, tags array<string>, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"})
    return docs.select("doc", parsed.alias("p")).select(
        "doc",
        F.col("p.title").alias("title"),
        F.col("p.views").alias("views"),
        F.size("p.tags").cast("bigint").alias("n_tags"),
        F.col("p._corrupt").isNotNull().cast("int").alias("is_corrupt"))


_FORM_TEXT = (
    ['<form action="/login" method="post"><input type="text" '
     'name="user"><input type="password" name="pw"></form> page ', 3],
    ['<form action="/search"><input type="search" name="q"></form> results ',
     5],
    ["An article about coastal erosion and dunes ", 7],
    ['<form action="/subscribe"><input type="email" name="e"></form><form '
     'action="/vote"><input type="radio"></form> footer ', 3],
)
_FORM_TEXT_SQL = _docs_sql(_FORM_TEXT, "html")

_FORM_SQL = (
    "WITH u AS (" + _FORM_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(len(regexp_extract_all(html, '<form')) AS BIGINT)
               AS n_forms,
             CAST(len(regexp_extract_all(html, '<input')) AS BIGINT)
               AS n_inputs,
             CAST(CASE WHEN strpos(html, 'type="password"') > 0
                THEN 1 ELSE 0 END AS INT) AS has_password,
             CAST(CASE WHEN strpos(html, 'type="search"') > 0
                THEN 1 ELSE 0 END AS INT) AS has_search,
             CAST(CASE WHEN strpos(html, 'type="email"') > 0
                THEN 1 ELSE 0 END AS INT) AS has_email
      FROM u)
    SELECT doc, n_forms, n_inputs, has_password, has_search, has_email,
           CASE WHEN has_password = 1 THEN 'login'
                WHEN has_search = 1 THEN 'search'
                WHEN has_email = 1 THEN 'subscribe'
                WHEN n_forms > 0 THEN 'other' END AS form_type,
           CAST(CASE WHEN n_forms >= 1 THEN 1 ELSE 0 END AS INT)
             AS is_form_page
    FROM m
    """
)


@query("html_form_detect", _FORM_SQL)
def q_html_form_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML form detection and typing — login walls, search results, and
    subscribe pages are interaction chrome, not content; a crawl
    pipeline tags them (login pages especially: near-zero text, massive
    template duplication) before quality scoring wastes signal on them.
    Priority typing: password > search > email > other. Zero-shuffle
    projection."""
    docs = _docs(spark, sf_dir, _FORM_TEXT, "html")
    base = docs.select(
        "doc",
        F.size(F.regexp_extract_all("html", F.lit("<form"), F.lit(0)))
        .cast("bigint").alias("n_forms"),
        F.size(F.regexp_extract_all("html", F.lit("<input"), F.lit(0)))
        .cast("bigint").alias("n_inputs"),
        F.col("html").contains('type="password"').cast("int")
        .alias("has_password"),
        F.col("html").contains('type="search"').cast("int")
        .alias("has_search"),
        F.col("html").contains('type="email"').cast("int")
        .alias("has_email"))
    return base.select(
        "doc", "n_forms", "n_inputs", "has_password", "has_search",
        "has_email",
        F.when(F.col("has_password") == 1, F.lit("login"))
        .when(F.col("has_search") == 1, F.lit("search"))
        .when(F.col("has_email") == 1, F.lit("subscribe"))
        .when(F.col("n_forms") > 0, F.lit("other"))
        .alias("form_type"),
        (F.col("n_forms") >= 1).cast("int").alias("is_form_page"))


@query(
    "broken_links",
    """
    WITH links AS (
      SELECT doc_id AS doc, doc_id * 2 AS tgt FROM documents
      UNION ALL
      SELECT doc_id AS doc, doc_id * 2 + 1 AS tgt FROM documents),
    joined AS (
      SELECT l.doc, l.tgt, d.doc_id AS hit
      FROM links l LEFT JOIN documents d ON l.tgt = d.doc_id)
    SELECT doc,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COALESCE(SUM(CASE WHEN hit IS NULL THEN 1 END), 0)
                AS BIGINT) AS n_broken,
           CAST(COALESCE(SUM(CASE WHEN hit IS NULL THEN 1 END), 0)
                * 10000 // COUNT(*) AS BIGINT) AS broken_bp
    FROM joined GROUP BY doc
    """,
)
def q_broken_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-link audit — each document's outgoing link targets LEFT-
    joined against the fetched-page index; targets with no match are
    broken, reported as a per-page count and basis-point ratio (a
    link-rot quality signal, and the freshness probe recrawl
    schedulers consume). The join is id-keyed against the full corpus
    index — at production scale this is the hash(url)-bucketed join
    the pipeline's payload join already demonstrates, never a
    broadcast (the index side is corpus-sized). Deterministic link
    synthesis: doc k links to 2k and 2k+1, so the upper half of the id
    space is dead by construction."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    links = docs.select(
        k.alias("doc"),
        F.explode(F.array((k * 2).cast("bigint"),
                          (k * 2 + 1).cast("bigint"))).alias("tgt"))
    index = docs.select(F.col("doc_id").alias("tgt"),
                        F.lit(1).alias("hit"))
    joined = links.join(index, "tgt", "left")
    return joined.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.coalesce(F.sum(F.when(F.col("hit").isNull(), 1)), F.lit(0))
        .cast("bigint").alias("n_broken"),
        F.expr("COALESCE(SUM(CASE WHEN hit IS NULL THEN 1 END), 0)"
               " * 10000 div COUNT(*)")
        .cast("bigint").alias("broken_bp"))


@query(
    "syndicated_paths",
    """
    WITH u AS (
      SELECT 'h' || CAST(doc_id % 17 AS VARCHAR) AS host,
             '/p/' || CAST(doc_id % 23 AS VARCHAR) AS path
      FROM documents)
    SELECT path,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN COUNT(DISTINCT host) >= 3 THEN 1 ELSE 0 END
                AS INT) AS syndicated
    FROM u GROUP BY path HAVING COUNT(*) >= 2
    """,
)
def q_syndicated_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndicated-path detection — the same URL path appearing on many
    DISTINCT hosts is the signature of wire-service syndication and
    mirror networks (same CMS template, same slug), a cheaper prefilter
    than content dedup because it runs on the URL table alone. One
    path-keyed aggregate with a distinct-host count; >=3 hosts flags
    syndication."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    u = docs.select(
        F.concat(F.lit("h"), (k % 17).cast("string")).alias("host"),
        F.concat(F.lit("/p/"), (k % 23).cast("string")).alias("path"))
    return (u.groupBy("path")
            .agg(F.countDistinct("host").cast("bigint")
                 .alias("n_hosts"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .filter(F.col("n_docs") >= 2)
            .select("path", "n_hosts", "n_docs",
                    (F.col("n_hosts") >= 3).cast("int")
                    .alias("syndicated")))


_ALOG_TEXT = (
    ["10.0.0.", 200, ' - - [15/Jan/2024:12:00:01 +0000] "GET /index.html '
     'HTTP/1.1" 200 5120'],
    ["192.168.1.", 200, ' - - [15/Jan/2024:12:00:02 +0000] "POST '
     '/api/v1/items HTTP/1.1" 404 512'],
    ["garbled line without structure ", 3],
    ["10.1.2.", 200, ' - - [15/Jan/2024:12:00:03 +0000] "HEAD /health '
     'HTTP/1.1" 500 -'],
)
_ALOG_TEXT_SQL = _docs_sql(_ALOG_TEXT, "line")

_ALOG_PAT = ("^([0-9.]+) - - \\[([^\\]]+)\\] "
             + '"([A-Z]+) ([^ ]+) HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)')

_ALOG_SQL = (
    "WITH u AS (" + _ALOG_TEXT_SQL + ")"
    """
    SELECT doc,
           nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 1), '') AS ip,
           nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 3), '') AS method,
           nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 4), '') AS path,
           CAST(nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 5), '')
             AS BIGINT) AS status,
           TRY_CAST(nullif(regexp_extract(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)', 6), '')
             AS BIGINT) AS bytes,
           CAST(CASE WHEN regexp_matches(line,
             '^([0-9.]+) - - \\[([^\\]]+)\\] "([A-Z]+) ([^ ]+) '
             || 'HTTP/[0-9.]+" ([0-9]{3}) ([0-9-]+)')
             THEN 0 ELSE 1 END AS INT) AS malformed
    FROM u
    """
)


@query("apache_log_parse", _ALOG_SQL)
def q_apache_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache/nginx access-log parsing — the combined-log regex with
    observable failure: structured fields (ip, method, path, status,
    bytes) extract as typed columns, a '-' byte count TRY_CASTs to
    NULL (HEAD responses), and any line the grammar rejects lands
    whole in the malformed lane instead of silently dropping — the
    same never-silent contract as jsonl_ingest. Zero-shuffle
    projection; the downstream rollups (status funnel, bot gap
    analysis) already exist in this suite."""
    docs = _docs(spark, sf_dir, _ALOG_TEXT, "line")
    pat = _ALOG_PAT

    def grp(i: int):
        return F.nullif(F.regexp_extract("line", pat, i), F.lit(""))

    return docs.select(
        "doc",
        grp(1).alias("ip"),
        grp(3).alias("method"),
        grp(4).alias("path"),
        grp(5).cast("bigint").alias("status"),
        grp(6).try_cast("bigint").alias("bytes"),
        (~F.col("line").rlike(pat)).cast("int").alias("malformed"))


_UA_TEXT = (
    ["Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "Chrome/120.0 Safari/537.36"],
    ["Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Version/17.0 "
     "Mobile/15E148 Safari"],
    ["Mozilla/5.0 (compatible; Googlebot/2.1; "
     "+http://www.google.com/bot.html)"],
    ["curl/8.", 5, ".0"],
    ["python-requests/2.", 30, ".0"],
)
_UA_TEXT_SQL = _docs_sql(_UA_TEXT, "ua")

_UA_SQL = (
    "WITH u AS (" + _UA_TEXT_SQL + ")"
    """
    SELECT doc,
           CASE WHEN regexp_matches(ua,
                  '(?i)(bot|crawler|spider|curl|python-requests|wget)')
                THEN 'bot'
                WHEN strpos(ua, 'Mobile') > 0
                  OR strpos(ua, 'iPhone') > 0
                  OR strpos(ua, 'Android') > 0 THEN 'mobile'
                WHEN strpos(ua, 'Mozilla/') > 0 THEN 'desktop'
                ELSE 'other' END AS ua_class,
           CAST(CASE WHEN regexp_matches(ua,
                  '(?i)(bot|crawler|spider|curl|python-requests|wget)')
                THEN 1 ELSE 0 END AS INT) AS is_bot
    FROM u
    """
)


@query("ua_classify", _UA_SQL)
def q_ua_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-agent classification — the traffic-hygiene split every log
    pipeline runs first: declared bots and script clients (curl,
    python-requests, wget) out of engagement metrics, mobile vs
    desktop for the rest. Priority matters: Googlebot's UA contains
    'Mozilla/' too, so the bot test runs FIRST — the classic
    misclassification bug. Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _UA_TEXT, "ua")
    is_bot = F.col("ua").rlike(
        "(?i)(bot|crawler|spider|curl|python-requests|wget)")
    cls = (
        F.when(is_bot, "bot")
        .when(F.col("ua").contains("Mobile")
              | F.col("ua").contains("iPhone")
              | F.col("ua").contains("Android"), "mobile")
        .when(F.col("ua").contains("Mozilla/"), "desktop")
        .otherwise("other"))
    return docs.select(
        "doc", cls.alias("ua_class"),
        is_bot.cast("int").alias("is_bot"))


_SECH_TEXT = (
    ["strict-transport-security: max-age=31536000\ncontent-security-policy: "
     "default-src self\nx-frame-options: DENY\nx-content-type-options: "
     "nosniff"],
    ["x-frame-options: SAMEORIGIN\nserver: nginx/", 9],
    ["server: apache\nx-powered-by: PHP/5.", 6],
    ["strict-transport-security: max-age=63072000; includeSubDomains\n"
     "x-content-type-options: nosniff\nreferrer-policy: no-referrer ", 3],
)
_SECH_TEXT_SQL = _docs_sql(_SECH_TEXT, "headers")

_SECH_SQL = (
    "WITH u AS (" + _SECH_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc,
             CAST(CASE WHEN strpos(headers,
                  'strict-transport-security:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_hsts,
             CAST(CASE WHEN strpos(headers,
                  'content-security-policy:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_csp,
             CAST(CASE WHEN strpos(headers, 'x-frame-options:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_xfo,
             CAST(CASE WHEN strpos(headers,
                  'x-content-type-options:') > 0
                THEN 1 ELSE 0 END AS INT) AS has_xcto,
             CAST(CASE WHEN regexp_matches(headers,
                  '(?m)^(server: [^ ]+/[0-9]|x-powered-by:)')
                THEN 1 ELSE 0 END AS INT) AS leaks_version
      FROM u)
    SELECT doc, has_hsts, has_csp, has_xfo, has_xcto, leaks_version,
           CAST(has_hsts + has_csp + has_xfo + has_xcto
                - leaks_version AS BIGINT) AS security_score
    FROM m
    """
)


@query("security_headers_audit", _SECH_SQL)
def q_security_headers_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Security-header audit — HSTS / CSP / X-Frame-Options /
    X-Content-Type-Options presence minus a version-leak penalty
    (Server banners with versions, X-Powered-By), the crawl-side
    hygiene score security dashboards aggregate per host. A bare
    'server: apache' without a version does NOT count as a leak.
    Zero-shuffle projection."""
    docs = _docs(spark, sf_dir, _SECH_TEXT, "headers")

    def has(s: str):
        return F.col("headers").contains(s).cast("int")

    leaks = F.col("headers").rlike(
        "(?m)^(server: [^ ]+/[0-9]|x-powered-by:)").cast("int")
    base = docs.select(
        "doc",
        has("strict-transport-security:").alias("has_hsts"),
        has("content-security-policy:").alias("has_csp"),
        has("x-frame-options:").alias("has_xfo"),
        has("x-content-type-options:").alias("has_xcto"),
        leaks.alias("leaks_version"))
    return base.select(
        "doc", "has_hsts", "has_csp", "has_xfo", "has_xcto",
        "leaks_version",
        (F.col("has_hsts") + F.col("has_csp") + F.col("has_xfo")
         + F.col("has_xcto") - F.col("leaks_version")).cast("bigint")
        .alias("security_score"))


_SOFT404_TEXT = (
    ["The harvest festival drew record crowds and the mayor opened the fair ",
     7],
    ["Oops! The page you are looking for cannot be found. Error 404. Try the "
     "homepage ", 3],
    ["The marathon had 404 runners this year, a record for the city ", 4],
    ["Page not found. The requested URL was not found on this server ", 3],
    ["This article no longer exists and has been removed by the editors ", 6],
)
_SOFT404_TEXT_SQL = f"""
    SELECT doc_id AS doc,
           CAST(CASE WHEN doc_id % 5 = 3 THEN 404 ELSE 200 END AS INT)
             AS status,
           {case_sql('doc_id', _SOFT404_TEXT)} AS text
    FROM documents
"""

_SOFT404_SQL = (
    "WITH u AS (" + _SOFT404_TEXT_SQL + "),"
    """
    m AS (
      SELECT doc, status,
             CAST(len(regexp_extract_all(text,
                  '(?i)(error 404|404 error|404 not found|'
                  || 'page not found)')) AS BIGINT) AS strong_hits,
             CAST(len(regexp_extract_all(text,
                  '(?i)(no longer exists|has been removed|'
                  || 'cannot be found|requested url was not found)'))
                  AS BIGINT) AS weak_hits
      FROM u)
    SELECT doc, status, strong_hits, weak_hits,
           CAST(CASE WHEN status = 200
                      AND (strong_hits >= 1 OR weak_hits >= 2)
                THEN 1 ELSE 0 END AS INT) AS soft404
    FROM m
    """
)


@query("soft404_detect", _SOFT404_SQL)
def q_soft404_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection — error pages served with HTTP 200 are the
    classic crawl poison: the status code says keep, the content is
    'page not found' boilerplate that then dominates exact-dedup
    clusters and quality-filter survivors. One strong marker ('error
    404', 'page not found') suffices; generic phrases ('no longer
    exists', 'has been removed') need two, so prose that merely
    mentions a removal — or the number 404 — never gates. Real 404s
    (status=404) are already routed by the fetcher; only status=200
    rows can flag. Zero-shuffle projection."""
    k = F.col("doc_id")
    m = k % 5
    status = F.when(m == 3, 404).otherwise(200).cast("int")
    docs = _cpu(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"), status.alias("status"),
        case_col(k, _SOFT404_TEXT).alias("text"))
    strong = F.size(F.regexp_extract_all(
        F.col("text"),
        F.lit("(?i)(error 404|404 error|404 not found|page not found)"),
        F.lit(0))).cast("bigint")
    weak = F.size(F.regexp_extract_all(
        F.col("text"),
        F.lit("(?i)(no longer exists|has been removed|cannot be found|"
              "requested url was not found)"), F.lit(0))).cast("bigint")
    m2 = docs.select("doc", "status", strong.alias("strong_hits"),
                     weak.alias("weak_hits"))
    return m2.select(
        "doc", "status", "strong_hits", "weak_hits",
        F.expr("CASE WHEN status = 200 AND (strong_hits >= 1 OR"
               " weak_hits >= 2) THEN 1 ELSE 0 END").cast("int")
        .alias("soft404"))


@query(
    "json_key_presence",
    """
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    ks AS (
      SELECT unnest(CASE WHEN json_valid(props) THEN json_keys(props)
                         ELSE [] END) AS key_name,
             props
      FROM events),
    typed AS (
      SELECT key_name,
             CASE WHEN regexp_matches(
                    COALESCE(json_extract_string(props,
                             '$.' || key_name), ''),
                    '^-?[0-9]+$') THEN 1 ELSE 0 END AS is_int
      FROM ks)
    SELECT key_name,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(COUNT(*) * 10000 // tot.n AS BIGINT) AS presence_bp,
           CAST(SUM(is_int) AS BIGINT) AS n_int_values,
           CAST(SUM(1 - is_int) AS BIGINT) AS n_other_values
    FROM typed CROSS JOIN tot
    GROUP BY key_name, tot.n
    """,
)
def q_json_key_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema audit: which keys the JSON payload
    actually carries, how often, and whether their values stay integer
    — the drift report that catches a client silently renaming or
    re-typing a field long before a downstream cast fails. Malformed
    payloads contribute no keys (never an error); key explosion is
    bounded by payload size; one key-grain agg."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        F.coalesce(
            F.map_keys(F.from_json("props", "map<string,string>")),
            F.expr("CAST(array() AS array<string>)")).alias("keys"),
        F.from_json("props", "map<string,string>").alias("m"))
    ks = parsed.select(F.explode("keys").alias("key_name"), "m")
    typed = ks.select(
        "key_name",
        F.expr("CASE WHEN COALESCE(m[key_name], '')"
               " RLIKE '^-?[0-9]+$' THEN 1 ELSE 0 END").alias("is_int"))
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (typed.crossJoin(F.broadcast(tot))
            .groupBy("key_name", "n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_present"),
                 F.expr("COUNT(*) * 10000 div n").cast("bigint")
                 .alias("presence_bp"),
                 F.sum("is_int").cast("bigint").alias("n_int_values"),
                 F.sum(F.lit(1) - F.col("is_int")).cast("bigint")
                 .alias("n_other_values"))
            .select("key_name", "n_present", "presence_bp",
                    "n_int_values", "n_other_values"))
