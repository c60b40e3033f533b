"""Graph analytics over synthetic host/link graphs: PageRank and HITS,
label propagation and modularity, k-core, triangles, clustering, degree
statistics and minimum spanning forests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.queries.registry import ORACLE, _docs, _docs_sql, _t, query


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 100-host link graph with varying out-degrees (the
    shared fixture of the graph-analytics queries)."""
    nodes = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 100).alias("node")).distinct()
    raw = nodes.select(
        "node",
        F.explode(
            F.sequence(F.lit(1), F.lit(1) + (F.col("node") % 3).cast("int"))
        ).alias("j"),
    )
    return (
        raw.select(
            F.col("node").alias("src"),
            ((F.col("node") * 13 + F.col("j") * 29) % 100).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
        .distinct()
    )


# The shared edge-builder CTE of the graph oracles (mirrors _host_edges).
_HOST_EDGES_SQL = """
    nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
    raw AS (SELECT node, unnest(generate_series(1, 1 + node % 3)) AS j
            FROM nodes),
    e AS (SELECT DISTINCT node AS src, (node * 13 + j * 29) % 100 AS dst
          FROM raw WHERE (node * 13 + j * 29) % 100 != node)
"""
# Over ``e``: the undirected edges ``und``, every triangle once in ``tri``
# and each node's triangle count ``cnt``.
_TRIANGLE_CTES = """und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    mem AS (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri),
    cnt AS (SELECT node, COUNT(*) AS c FROM mem GROUP BY node)"""


def _pagerank_oracle(n_iters: int = 3) -> str:
    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    r{i} AS (
      SELECT nd.node,
             CAST((15000000000 // (100 * t.n)) + COALESCE(c.c, 0) AS BIGINT) AS rank
      FROM nodes nd CROSS JOIN tot t
      LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM((p.rank * 85) // (100 * od.od)) AS BIGINT) AS c
        FROM r{i - 1} p JOIN e ON e.src = p.node JOIN od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nd.node)"""
    return f"""
    WITH {_HOST_EDGES_SQL.strip()},
    tot AS (SELECT COUNT(*) AS n FROM nodes),
    od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000000 // t.n AS BIGINT) AS rank
           FROM nodes CROSS JOIN tot t){iters}
    SELECT node, rank FROM r{n_iters}
    """


@query("host_pagerank", _pagerank_oracle())
def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point PageRank (3 iterations, damping 0.85)
    over a synthesized 100-host link graph with varying out-degrees —
    the iterative graph algorithm next to connected_components, with the
    DuckDB twin unrolling the same integer iterations."""
    from ocr_spark.functions.graph import pagerank

    return pagerank(_host_edges(spark, sf_dir), n_iters=3)


@query(
    "triangle_count",
    f"""
    WITH {_HOST_EDGES_SQL},
    {_TRIANGLE_CTES}
    SELECT n.node, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_triangles
    FROM nodes n LEFT JOIN cnt USING (node)
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the host link graph via the oriented
    compact-forward edge join — the local clustering signal (link-farm /
    community detector) beside PageRank and connected components."""
    from ocr_spark.functions.graph import triangle_count

    return triangle_count(_host_edges(spark, sf_dir))


def _hits_oracle(n_iters: int = 2, scale: int = 10**6) -> str:
    """Unrolled DuckDB twin of functions/graph.hits (same integer
    max-normalization CASE, same iteration count)."""
    norm = (lambda x, m: f"(({x} // GREATEST({m} // {scale}, 1)) * {scale}) "
                         f"// ({m} // GREATEST({m} // {scale}, 1))")
    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    ar{i} AS (
      SELECT nd.node, COALESCE(s.v, 0) AS v
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(h.hub) AS v
        FROM h{i - 1} h JOIN e ON e.src = h.node GROUP BY e.dst) s
      USING (node)),
    am{i} AS (SELECT GREATEST(MAX(v), 1) AS m FROM ar{i}),
    a{i} AS (SELECT node, CAST({norm('v', 'm')} AS BIGINT) AS authority
             FROM ar{i} CROSS JOIN am{i}),
    hr{i} AS (
      SELECT nd.node, COALESCE(s.v, 0) AS v
      FROM nodes nd LEFT JOIN (
        SELECT e.src AS node, SUM(a.authority) AS v
        FROM a{i} a JOIN e ON e.dst = a.node GROUP BY e.src) s
      USING (node)),
    hm{i} AS (SELECT GREATEST(MAX(v), 1) AS m FROM hr{i}),
    h{i} AS (SELECT node, CAST({norm('v', 'm')} AS BIGINT) AS hub
             FROM hr{i} CROSS JOIN hm{i})"""
    return f"""
    WITH {_HOST_EDGES_SQL.strip()},
    h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM nodes){iters}
    SELECT h{n_iters}.node, h{n_iters}.hub, a{n_iters}.authority
    FROM h{n_iters} JOIN a{n_iters} USING (node)
    """


@query("host_hits", _hits_oracle())
def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer HITS (2 iterations, max-normalized to 1e6
    units) over the shared 100-host link graph — hubs and authorities as
    separate crawl-priority signals beside PageRank, with the DuckDB twin
    unrolling the identical integer passes."""
    from ocr_spark.functions.graph import hits

    return hits(_host_edges(spark, sf_dir), n_iters=2)


@query("label_propagation", f"""
    WITH {_HOST_EDGES_SQL.strip()},
    und AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
            WHERE src != dst),
    gn AS (SELECT DISTINCT src AS node FROM und
           UNION SELECT DISTINCT dst FROM und),
    l0 AS (SELECT node, node AS label FROM gn),
    c1 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l0 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m1 AS (SELECT node, MAX(c) AS mc FROM c1 GROUP BY node),
    l1 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l0 p
      LEFT JOIN c1 c ON c.node = p.node
      LEFT JOIN m1 m ON m.node = p.node
      GROUP BY p.node, p.label),
    c2 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l1 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m2 AS (SELECT node, MAX(c) AS mc FROM c2 GROUP BY node),
    l2 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l1 p
      LEFT JOIN c2 c ON c.node = p.node
      LEFT JOIN m2 m ON m.node = p.node
      GROUP BY p.node, p.label),
    c3 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l2 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m3 AS (SELECT node, MAX(c) AS mc FROM c3 GROUP BY node),
    l3 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l2 p
      LEFT JOIN c3 c ON c.node = p.node
      LEFT JOIN m3 m ON m.node = p.node
      GROUP BY p.node, p.label),
    c4 AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN l3 l ON l.node = u.dst
      GROUP BY u.src, l.label),
    m4 AS (SELECT node, MAX(c) AS mc FROM c4 GROUP BY node),
    l4 AS (
      SELECT p.node,
             COALESCE(MIN(CASE WHEN c.c = m.mc THEN c.label END), p.label)
               AS label
      FROM l3 p
      LEFT JOIN c4 c ON c.node = p.node
      LEFT JOIN m4 m ON m.node = p.node
      GROUP BY p.node, p.label),
    sz AS (SELECT label, COUNT(*) AS community_size
           FROM l4 GROUP BY label)
    SELECT l.node, l.label AS community,
           CAST(s.community_size AS BIGINT) AS community_size
    FROM l4 l JOIN sz s ON s.label = l.label
    """)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the shared 100-host link graph via 4 rounds
    of deterministic synchronous label propagation (mode-of-neighbors,
    smallest-label ties) — the community signal beside PageRank (authority),
    HITS (hubs), triangle counting (local density), and min-label
    connected components (reachability). The DuckDB twin unrolls the same
    synchronous rounds. See functions/graph.label_propagation."""
    from ocr_spark.functions.graph import label_propagation

    return label_propagation(_host_edges(spark, sf_dir), n_iters=4)


@query(
    "degree_stats",
    f"""
    WITH {_HOST_EDGES_SQL},
    vn AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    out_d AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY src),
    in_d AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY dst),
    rec AS (SELECT a.src AS node, COUNT(*) AS n_reciprocal
            FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src
            GROUP BY a.src)
    SELECT vn.node,
           CAST(COALESCE(out_d.out_deg, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(in_d.in_deg, 0) AS BIGINT) AS in_deg,
           CAST(COALESCE(rec.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
           CAST(CASE WHEN COALESCE(out_d.out_deg, 0) > 0
                THEN (COALESCE(rec.n_reciprocal, 0) * 10000)
                     // out_d.out_deg
                ELSE 0 END AS BIGINT) AS reciprocity_bp
    FROM vn
    LEFT JOIN out_d ON out_d.node = vn.node
    LEFT JOIN in_d ON in_d.node = vn.node
    LEFT JOIN rec ON rec.node = vn.node
    """,
)
def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree and link-reciprocity stats over the shared 100-host
    link graph — the link-farm shape detector (high out-degree, near-zero
    reciprocity) beside host_pagerank (authority) and triangle_count
    (local density). See functions/graph.degree_stats."""
    from ocr_spark.functions.graph import degree_stats

    return degree_stats(_host_edges(spark, sf_dir))


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    """Unrolled peel: each round keeps edges whose BOTH endpoints have
    degree >= k; once peeling converges the remaining rounds are no-ops,
    so a fixed unroll >= the fixture's peel depth (4 for k=3) is the
    exact k-core (the Spark side loops to convergence and raises if it
    needs more rounds than this twin unrolls — see tests). MATERIALIZED
    is required: each round reads its predecessor three times, and
    DuckDB's default CTE inlining would expand the base scan 3^rounds
    times (observed as a too-many-open-files explosion)."""
    iters = ""
    for i in range(1, rounds + 1):
        iters += f""",
    s{i} AS MATERIALIZED (
      SELECT t.src, t.dst FROM s{i - 1} t
      JOIN (SELECT src, COUNT(*) AS d FROM s{i - 1} GROUP BY src) da
        ON da.src = t.src AND da.d >= {k}
      JOIN (SELECT src, COUNT(*) AS d FROM s{i - 1} GROUP BY src) db
        ON db.src = t.dst AND db.d >= {k})"""
    return f"""
    WITH {_HOST_EDGES_SQL},
    s0 AS MATERIALIZED (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e){iters}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM s{rounds} GROUP BY src
    """


@query("kcore", _kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the shared 100-host link graph by iterative peel — the
    dense-subgraph reduction that sheds link farms at low k and is the
    standard prefilter before community detection. The Spark side peels
    to convergence (raising on non-convergence, never a silent partial
    core); the DuckDB twin unrolls 10 peel rounds, which is >= the
    fixture's peel depth. See functions/graph.kcore."""
    from ocr_spark.functions.graph import kcore

    return kcore(_host_edges(spark, sf_dir), k=3)


def _seed_distance_oracle(rounds: int = 4) -> str:
    iters = ""
    for i in range(1, rounds + 1):
        iters += f""",
    d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM e JOIN d{i - 1} d ON d.node = e.src
        UNION ALL SELECT node, dist FROM d{i - 1}) GROUP BY node)"""
    return f"""
    WITH {_HOST_EDGES_SQL},
    d0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, 0 AS dist FROM e WHERE src % 10 = 0
      UNION SELECT DISTINCT dst, 0 FROM e WHERE dst % 10 = 0){iters}
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}
    """


@query("seed_distance", _seed_distance_oracle())
def q_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the 10 trusted-seed hosts (node % 10 == 0)
    over the directed link graph, 4 relaxation rounds — the
    crawl-frontier prioritization / spam-demotion signal (TrustRank's
    discrete cousin); nodes beyond the horizon are absent, not silently
    zero. See functions/graph.seed_distance."""
    from ocr_spark.functions.graph import seed_distance

    e = _host_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 10 == 0)
    return seed_distance(e, seeds, rounds=4)


def _seed_pagerank_oracle(n_iters: int = 3) -> str:
    iters = ""
    for i in range(1, n_iters + 1):
        iters += f""",
    r{i} AS (
      SELECT nd.node,
             CAST(nd.is_seed * (15000000000 // (100 * t.ns))
                  + COALESCE(c.c, 0) AS BIGINT) AS rank
      FROM marked nd CROSS JOIN ns t
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((p.rank * 85) // (100 * od.od)) AS BIGINT) AS c
        FROM r{i - 1} p JOIN e ON e.src = p.node JOIN od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nd.node)"""
    return f"""
    WITH {_HOST_EDGES_SQL.strip()},
    marked AS (SELECT node,
                      CASE WHEN node % 10 = 0 THEN 1 ELSE 0 END AS is_seed
               FROM nodes),
    ns AS (SELECT SUM(is_seed) AS ns FROM marked),
    od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(is_seed * (1000000000 // t.ns) AS BIGINT)
                      AS rank
           FROM marked CROSS JOIN ns t){iters}
    SELECT node, rank FROM r{n_iters}
    """


@query("seed_pagerank", _seed_pagerank_oracle())
def q_seed_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the node%10==0 seed set over the shared
    100-host link graph: teleport mass returns to the seeds, so rank is
    importance-as-seen-from-trusted-hubs — the crawl-frontier
    prioritizer. Unreachable hosts end at exactly 0. See
    functions/graph.personalized_pagerank."""
    from ocr_spark.functions.graph import personalized_pagerank

    edges = _host_edges(spark, sf_dir)
    seeds = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct().filter(F.col("node") % 10 == 0)
    return personalized_pagerank(edges, seeds, n_iters=3)


@query(
    "degree_gini",
    f"""
    WITH {_HOST_EDGES_SQL.strip()},
    deg AS (
      SELECT n.node, COALESCE(d.c, 0) AS degree
      FROM nodes n LEFT JOIN
        (SELECT src, COUNT(*) AS c FROM e GROUP BY src) d
        ON d.src = n.node),
    hist AS (SELECT degree AS v, COUNT(*) AS c FROM deg GROUP BY degree),
    r AS (
      SELECT v, c,
             SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                 AS cum_before
      FROM hist),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(v * c) AS BIGINT) AS s,
             CAST(SUM(v * (2 * c * cum_before + c * c + c)) AS BIGINT)
                 AS s2
      FROM r)
    SELECT n, s AS degree_sum,
           CAST((10000 * (s2 - (n + 1) * s)) // (n * s) AS BIGINT)
               AS gini_bp
    FROM agg
    """,
)
def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gini coefficient of the host out-degree distribution
    (0 = every host links equally, →10000 = one hub owns the graph) —
    the one-number inequality summary beside degree_stats, computed on
    the degree HISTOGRAM with doubled rank sums so no float ever
    appears. Windows run over distinct degree values, never nodes."""
    edges = _host_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = (
        nodes.join(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("c")),
            nodes["node"] == F.col("src"), "left")
        .select(F.coalesce("c", F.lit(0)).alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("c"))
    w = (Window.orderBy("degree")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = hist.withColumn("cum_before", F.sum("c").over(w) - F.col("c"))
    agg = r.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("degree") * F.col("c")).cast("bigint").alias("s"),
        F.sum(F.col("degree")
              * (F.lit(2) * F.col("c") * F.col("cum_before")
                 + F.col("c") * F.col("c") + F.col("c")))
        .cast("bigint").alias("s2"),
    )
    return agg.select(
        "n", F.col("s").alias("degree_sum"),
        F.expr("CAST((10000 * (s2 - (n + 1) * s)) div (n * s) AS BIGINT)")
        .alias("gini_bp"),
    )


_ENTCO_TEXT = (
    ["Alice met Bob in Paris while Bob visited Carol ", 5],
    ["Paris and Berlin signed the accord with Alice ", 3],
    ["the quick brown fox ignored everyone ", 7],
)
_ENTCO_TEXT_SQL = _docs_sql(_ENTCO_TEXT, "text")

_ENTCO_SQL = (
    "WITH u AS (" + _ENTCO_TEXT_SQL + "),"
    """
    ents AS (
      SELECT doc, unnest(list_distinct(regexp_extract_all(text,
               '\\b[A-Z][a-z]+\\b'))) AS e
      FROM u),
    pairs AS (
      SELECT x.e AS e1, y.e AS e2
      FROM ents x JOIN ents y ON x.doc = y.doc AND x.e < y.e)
    SELECT e1, e2, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY e1, e2 HAVING COUNT(*) >= 2
    """
)


@query("entity_cooccurrence", _ENTCO_SQL)
def q_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence edges — capitalized-token entities that
    appear in the SAME document form an edge, support-counted across
    the corpus: the cheap knowledge-graph seed (who appears with whom)
    entity-linking pipelines bootstrap from. Spark-first shape: each
    doc's sorted distinct entity set emits its pairs IN-ROW (the same
    index-aware transform+slice as audience_overlap — fan-out bounded
    by entities-per-doc, never a corpus self-join), then one pair-keyed
    count with a support floor. The oracle twin runs the doc-keyed
    self-join."""
    docs = _docs(spark, sf_dir, _ENTCO_TEXT, "text")
    ents = F.array_sort(F.array_distinct(F.regexp_extract_all(
        "text", F.lit(r"\b[A-Z][a-z]+\b"), F.lit(0))))
    arr = docs.select("doc", ents.alias("ents"))
    pairs = arr.select(F.explode(F.flatten(F.transform(
        "ents",
        lambda x, i: F.transform(
            F.slice(F.col("ents"), i + 2, F.size(F.col("ents"))),
            lambda y: F.struct(x.alias("e1"), y.alias("e2")))))
    ).alias("p")).select("p.e1", "p.e2")
    return (pairs.groupBy("e1", "e2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
            .filter(F.col("support") >= 2))


@query(
    "local_clustering",
    f"""
    WITH {_HOST_EDGES_SQL},
    {_TRIANGLE_CTES},
    degu AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node),
    alln AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)
    SELECT n.node,
           COALESCE(degu.degree, 0) AS degree,
           CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN COALESCE(degu.degree, 0) >= 2
                THEN COALESCE(cnt.c, 0) * 2 * 10000
                     // (degu.degree * (degu.degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_bp
    FROM alln n LEFT JOIN degu USING (node) LEFT JOIN cnt USING (node)
    """,
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the host link graph —
    triangle_count normalized by deg·(deg−1): a dense self-referential
    cluster (link farm / mirror ring) scores near 10000 bp while a
    genuine hub whose neighbors ignore each other scores near 0, which
    is exactly the split raw triangle counts can't make."""
    from ocr_spark.functions.graph import local_clustering

    return local_clustering(_host_edges(spark, sf_dir))


@query(
    "degree_assortativity",
    f"""
    WITH {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    degu AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node),
    sym AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b AS u, a AS v FROM und),
    samp AS (
      SELECT dx.d AS x, dy.d AS y
      FROM sym JOIN degu dx ON dx.node = sym.u
               JOIN degu dy ON dy.node = sym.v),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(x) AS BIGINT) AS sum_deg,
             CAST(SUM(x * y) AS BIGINT) AS sum_xy,
             CAST(SUM(x * x) AS BIGINT) AS sum_xx
      FROM samp)
    SELECT n_samples, sum_deg, sum_xy, sum_xx,
           CAST(CASE WHEN n_samples * sum_xx - sum_deg * sum_deg = 0
                THEN 0
                ELSE (n_samples * sum_xy - sum_deg * sum_deg) * 10000
                     // (n_samples * sum_xx - sum_deg * sum_deg)
                END AS BIGINT) AS assort_bp
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed degree-assortativity coefficient of the host graph in
    exact basis points — both edge orientations are sampled so the x/y
    marginals coincide and Pearson r reduces to one integer division
    (no square root). Negative r (hubs→leaves) flags star-shaped scrape
    or SEO networks; positive r an organic hub core."""
    from ocr_spark.functions.graph import degree_assortativity

    return degree_assortativity(_host_edges(spark, sf_dir))


@query(
    "modularity",
    f"""
    WITH lp AS ({{LP}}),
    {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    lab AS (SELECT node, community FROM lp),
    intra AS (
      SELECT la.community AS c
      FROM und JOIN lab la ON la.node = und.a
               JOIN lab lb ON lb.node = und.b
      WHERE la.community = lb.community),
    ec AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS e_c
           FROM intra GROUP BY c),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      GROUP BY node),
    dc AS (
      SELECT l.community AS c, CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM deg JOIN lab l ON l.node = deg.node GROUP BY l.community),
    terms AS (
      SELECT dc.c,
             COALESCE(ec.e_c, 0) AS e_c,
             4 * mm.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS t
      FROM dc LEFT JOIN ec ON ec.c = dc.c CROSS JOIN mm)
    SELECT mm.m AS m_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(e_c) AS BIGINT) AS intra_edges,
           CAST(SUM(t) * 10000 // (4 * mm.m * mm.m) AS BIGINT) AS q_bp
    FROM terms CROSS JOIN mm GROUP BY mm.m
    """.replace("{LP}", "PLACEHOLDER"),
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities on the
    host graph, in exact basis points: Q = Σ_c [e_c/m − (d_c/2m)²]
    carried as Σ_c (4·m·e_c − d_c²) over 4m² with ONE final truncating
    division — the quality number that says whether the communities LPA
    found are denser than a degree-preserving random graph (the
    link-farm/community confirmation beside the per-node clustering
    coefficient). The oracle nests the full unrolled label-propagation
    SQL as a subquery, so both engines score the SAME partition. One
    edge-keyed label join + community-grain aggregates."""
    from ocr_spark.functions.graph import label_propagation

    edges = _host_edges(spark, sf_dir)
    # the label frame feeds THREE consumers (la, lb, dc); persisting it
    # runs the 4-round iterative LP chain once instead of three times
    lab = label_propagation(edges).select(
        "node", F.col("community").alias("c")).persist()
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    mm = und.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    la = lab.select(F.col("node").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("c").alias("cb"))
    intra = (und.join(la, "a").join(lb, "b")
             .filter(F.col("ca") == F.col("cb"))
             .select(F.col("ca").alias("c")))
    ec = intra.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("e_c"))
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("bigint").alias("d")))
    dc = (deg.join(lab, "node")
          .groupBy("c").agg(F.sum("d").cast("bigint").alias("d_c")))
    terms = (dc.join(ec, "c", "left")
             .crossJoin(F.broadcast(mm))
             .select("c", F.coalesce("e_c", F.lit(0)).alias("e_c"),
                     F.expr("4 * m * COALESCE(e_c, 0) - d_c * d_c")
                     .alias("t"), "m"))
    return terms.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("e_c").cast("bigint").alias("intra_edges"),
        F.expr("SUM(t) * 10000 div (4 * m * m)").cast("bigint")
        .alias("q_bp")).select(
            F.col("m").alias("m_edges"), "n_communities",
            "intra_edges", "q_bp")


ORACLE["modularity"] = ORACLE["modularity"].replace(
    "PLACEHOLDER", ORACLE["label_propagation"])


@query(
    "edge_embeddedness",
    f"""
    WITH {_HOST_EDGES_SQL},
    sym AS (SELECT DISTINCT src AS u, dst AS v FROM (
              SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
            WHERE src != dst),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    common AS (
      SELECT und.a, und.b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM und
      JOIN sym na ON na.u = und.a
      JOIN sym nb ON nb.u = und.b AND nb.v = na.v
      WHERE na.v != und.a AND na.v != und.b
      GROUP BY und.a, und.b)
    SELECT und.a, und.b,
           COALESCE(common.n_common, 0) AS n_common,
           CAST(CASE WHEN COALESCE(common.n_common, 0) = 0
                THEN 1 ELSE 0 END AS INT) AS is_local_bridge
    FROM und LEFT JOIN common ON common.a = und.a AND common.b = und.b
    """,
)
def q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness (common-neighbor count per edge — the truss-
    decomposition support number) with the Granovetter local-bridge
    flag: an edge whose endpoints share NO neighbor is the only route
    between its neighborhoods, which on a web graph marks genuine
    cross-community links versus the densely embedded intra-mirror
    mesh. Two neighbor-keyed hash joins bounded by endpoint degrees —
    the per-edge refinement of triangle_count's per-node totals."""
    edges = _host_edges(spark, sf_dir)
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst")).distinct()
           .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    na = sym.select(F.col("u").alias("a"), F.col("v").alias("c"))
    nb = sym.select(F.col("u").alias("b"), F.col("v").alias("c"))
    common = (und.join(na, "a").join(nb, ["b", "c"])
              .filter((F.col("c") != F.col("a"))
                      & (F.col("c") != F.col("b")))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    return (und.join(common, ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce("n_common", F.lit(0)).cast("bigint")
                    .alias("n_common"),
                    F.expr("CAST(CASE WHEN COALESCE(n_common, 0) = 0"
                           " THEN 1 ELSE 0 END AS INT)")
                    .alias("is_local_bridge")))


@query(
    "degree_h_index",
    f"""
    WITH {_HOST_EDGES_SQL},
    ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS indeg
            FROM e GROUP BY dst),
    ranked AS (
      SELECT node, indeg,
             ROW_NUMBER() OVER (ORDER BY indeg DESC, node) AS rk
      FROM ind)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
           CAST(COALESCE(MAX(CASE WHEN indeg >= rk THEN rk END), 0)
                AS BIGINT) AS h_index,
           CAST(MAX(indeg) AS BIGINT) AS max_indeg
    FROM ranked
    """,
)
def q_degree_h_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hirsch h-index of the host in-link distribution — the largest h
    such that h hosts each have at least h in-links: one number that is
    robust to both the mega-hub (max doesn't move it) and the long tail
    (count doesn't move it), which is why it summarizes authority
    concentration better than either. One degree agg + one ordered
    window over the host grain."""
    edges = _host_edges(spark, sf_dir)
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("indeg"))
    ranked = ind.select(
        "node", "indeg",
        F.row_number().over(
            Window.orderBy(F.col("indeg").desc(), "node")).alias("rk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
        F.coalesce(F.max(F.when(F.col("indeg") >= F.col("rk"),
                                F.col("rk"))), F.lit(0)).cast("bigint")
        .alias("h_index"),
        F.max("indeg").cast("bigint").alias("max_indeg"))


def _boruvka_round_sql(r: int, prev: str) -> str:
    """One unrolled Borůvka round: cross edges under ``prev`` labels,
    per-component (w, a, b) argmin, 2 min-label pointer jumps, new
    label frame l{r} + the round's stat CTEs."""
    return f"""
    cr{r} AS MATERIALIZED (
      SELECT wed.w, wed.a, wed.b, la.comp AS eca, lb.comp AS ecb
      FROM wed JOIN {prev} la ON la.node = wed.a
               JOIN {prev} lb ON lb.node = wed.b
      WHERE la.comp != lb.comp),
    inc{r} AS MATERIALIZED (
      SELECT eca AS comp, w, a, b, eca, ecb FROM cr{r}
      UNION ALL SELECT ecb, w, a, b, eca, ecb FROM cr{r}),
    pick{r} AS MATERIALIZED (
      SELECT comp, w, a, b, eca, ecb,
             ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b)
               AS rn
      FROM inc{r}),
    ch{r} AS MATERIALIZED (SELECT DISTINCT w, a, b, eca, ecb FROM pick{r}
              WHERE rn = 1),
    st{r} AS (SELECT CAST(COUNT(*) AS BIGINT) AS nch,
                     CAST(COALESCE(SUM(w), 0) AS BIGINT) AS tw
              FROM ch{r}),
    cp{r} AS MATERIALIZED (SELECT eca AS c, ecb AS d FROM ch{r}
              UNION ALL SELECT ecb, eca FROM ch{r}),
    j{r}0 AS MATERIALIZED (SELECT DISTINCT comp AS c, comp AS l FROM {prev}),
    j{r}1 AS MATERIALIZED (
      SELECT j.c, LEAST(j.l, COALESCE(MIN(xd.l), j.l)) AS l
      FROM j{r}0 j
      LEFT JOIN cp{r} ON cp{r}.c = j.c
      LEFT JOIN j{r}0 xd ON xd.c = cp{r}.d
      GROUP BY j.c, j.l),
    j{r}2 AS MATERIALIZED (
      SELECT j.c, LEAST(j.l, COALESCE(MIN(xd.l), j.l)) AS l
      FROM j{r}1 j
      LEFT JOIN cp{r} ON cp{r}.c = j.c
      LEFT JOIN j{r}1 xd ON xd.c = cp{r}.d
      GROUP BY j.c, j.l),
    l{r} AS MATERIALIZED (
      SELECT p.node, j{r}2.l AS comp
      FROM {prev} p JOIN j{r}2 ON j{r}2.c = p.comp),
    nc{r} AS (SELECT CAST(COUNT(DISTINCT comp) AS BIGINT) AS n
              FROM l{r}),
    nb{r} AS (SELECT CAST(COUNT(DISTINCT comp) AS BIGINT) AS n
              FROM {prev}),"""


_BORUVKA_SQL = (
    f"""
    WITH {_HOST_EDGES_SQL},
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src != dst),
    wed AS MATERIALIZED (
      SELECT a, b,
             ('0x' || substr(md5('mst:' || CAST(a AS VARCHAR) || ':'
               || CAST(b AS VARCHAR)), 1, 12))::BIGINT AS w
      FROM und),
    gn AS (SELECT a AS node FROM wed UNION SELECT b FROM wed),
    l0 AS MATERIALIZED (SELECT node, node AS comp FROM gn),"""
    + _boruvka_round_sql(1, "l0")
    + _boruvka_round_sql(2, "l1")
    + """
    out AS (
      SELECT CAST(1 AS BIGINT) AS round, nb1.n AS n_components_before,
             st1.nch AS n_edges_chosen, st1.tw AS total_weight,
             nc1.n AS n_components_after
      FROM nb1 CROSS JOIN st1 CROSS JOIN nc1
      UNION ALL
      SELECT CAST(2 AS BIGINT), nb2.n, st2.nch, st2.tw, nc2.n
      FROM nb2 CROSS JOIN st2 CROSS JOIN nc2)
    SELECT * FROM out
    """
)


@query("boruvka_msf", _BORUVKA_SQL)
def q_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Borůvka minimum-spanning-forest rounds on the host graph
    (md5-derived edge weights): per round, every component's minimum
    cross-component edge joins the forest and components contract via
    two fixed min-label pointer jumps — the BSP MST algorithm that
    clusters near-dup graphs by similarity weight at corpus scale,
    unrolled identically in the DuckDB twin. See
    functions/graph.boruvka_rounds for the plan shape."""
    from ocr_spark.functions.graph import boruvka_rounds

    return boruvka_rounds(_host_edges(spark, sf_dir))
