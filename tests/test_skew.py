"""Skew-defusal evidence (north rule): crawl inputs cluster by host; the
hash(url) salt repartition must spread a pathologically host-skewed input
evenly across partitions, and the pipeline result must not depend on the
partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skewed_pages(spark):
    """90% of pages on one host, arriving sorted by host (crawl order)."""
    rows = []
    for i in range(1000):
        host = "hot-host.example" if i < 900 else f"host-{i % 37}.example"
        rows.append((f"https://{host}/p/{i}", b"<html><body><p>doc %d body text here</p></body></html>" % i))
    return spark.createDataFrame(rows, "url string, html binary").withColumns(
        {"warc_ts": F.current_timestamp(), "text": F.lit(""), "lang": F.lit("en")}
    )


def test_salt_balances_host_skew(spark, skewed_pages):
    salted = skewed_pages.repartition(16, F.xxhash64("url"))
    sizes = [r["n"] for r in salted.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 16
    # naive host partitioning would put 900 rows in one partition; the salt
    # must keep every partition within 2x of the mean
    mean = sum(sizes) / len(sizes)
    assert max(sizes) < 2 * mean, sizes
    assert min(sizes) > 0.3 * mean, sizes


def test_pipeline_output_invariant_to_partitioning(spark, skewed_pages):
    from ocr_spark.pipeline import run_pipeline

    a = run_pipeline(spark, skewed_pages, salt_partitions=4)
    b = run_pipeline(spark, skewed_pages, salt_partitions=16)
    ra = {r["url"]: (r["extracted_text"], r["decision"], r["final_score"])
          for r in a.select("url", "extracted_text", "decision", "final_score").collect()}
    rb = {r["url"]: (r["extracted_text"], r["decision"], r["final_score"])
          for r in b.select("url", "extracted_text", "decision", "final_score").collect()}
    assert ra == rb


def test_lsh_mega_bucket_capped(spark):
    """A boilerplate signature shared by 10^4 docs must NOT materialize ~10^8
    pairs in one task: the bucket cap drops it (those docs are exact_dedup's
    job), genuine near-dup pairs still come through, and the dropped bucket
    is observable."""
    from ocr_spark.functions.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        lsh_oversize_buckets,
    )

    boiler = [(i, "cookie consent banner please accept our terms of service today") 
              for i in range(10_000)]
    near = [
        (20_000, "the quick brown fox jumps over the lazy dog near the river"),
        (20_001, "the quick brown fox jumps over the lazy dog near the creek"),
    ]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"])

    pairs = lsh_candidate_pairs(df, "doc_id", "text", n_bands=4).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (20_000, 20_001) in got
    # no pair from the mega bucket (10^4 choose 2 would be ~5*10^7 rows)
    assert all(a >= 20_000 for a, _ in got), sorted(got)[:5]

    over = lsh_oversize_buckets(df, "doc_id", "text", n_bands=4).collect()
    assert len(over) == 4  # the boilerplate text occupies all 4 bands
    assert all(r["n_docs"] == 10_000 for r in over)

    # and the mega bucket IS exact dedup's catch
    dd = exact_dedup(df, "doc_id", "text").filter(F.col("dup_count") > 1).collect()
    assert len(dd) == 1 and dd[0]["dup_count"] == 10_000


def test_lsh_cap_observation_single_action(spark):
    """The no-silent-caps hook: an Observation attached to
    lsh_candidate_pairs reports dropped-bucket counts from the SAME action
    that produced the pairs (no second pass over the corpus)."""
    from pyspark.sql import Observation

    from ocr_spark.functions.dedup import lsh_candidate_pairs

    boiler = [(i, "cookie consent banner please accept our terms of service today")
              for i in range(200)]
    near = [
        (20_000, "the quick brown fox jumps over the lazy dog near the river"),
        (20_001, "the quick brown fox jumps over the lazy dog near the creek"),
    ]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"])

    obs = Observation("lsh_caps")
    pairs = lsh_candidate_pairs(df, "doc_id", "text", n_bands=4,
                                observation=obs).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(20_000, 20_001)}
    m = obs.get
    assert m["oversize_buckets"] == 4      # boilerplate fills all 4 bands
    assert m["max_bucket_docs"] == 200


def test_connected_components_transitive_chain(spark):
    """a-b, b-c chain plus an isolated node: one cluster {1,2,3} labelled
    by its min id, singleton keeps its own label."""
    from ocr_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(1,), (2,), (3,), (9,)], "node bigint")
    edges = spark.createDataFrame([(2, 3), (1, 2)], "doc_a bigint, doc_b bigint")
    got = {r["node"]: r["component"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_connected_components_label_flows_against_edge_direction(spark):
    """Edges are undirected: the min id sits at the 'b' end here, and must
    still win the whole component."""
    from ocr_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(5,), (6,), (7,)], "node bigint")
    edges = spark.createDataFrame([(7, 5), (6, 7)], "doc_a bigint, doc_b bigint")
    got = {r["node"]: r["component"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {5: 5, 6: 5, 7: 5}


def test_connected_components_no_edges_identity(spark):
    from ocr_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(4,), (8,)], "node bigint")
    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    got = {r["node"]: r["component"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {4: 4, 8: 8}


def test_connected_components_raises_on_non_convergence(spark):
    """A 4-hop path cannot converge in 1 round; the operator must refuse
    to return a partial labelling."""
    import pytest as _pytest

    from ocr_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "node bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "doc_a bigint, doc_b bigint")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iters=1)


def test_corpus_dup_ngrams_universal_boilerplate_gram(spark):
    """A gram shared by EVERY document (the 'all rights reserved' case) is
    the hot key of the gram-keyed join; results must stay exact and
    partition-invariant, and the distinct-first shape must bound the join
    input at one row per (doc, gram)."""
    from ocr_spark.functions.curation import corpus_dup_ngrams

    rows = [(i, f"unique{i} a b c tail{i} words{i}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for parts in (2, 16):
        out = {r["doc"]: r for r in
               corpus_dup_ngrams(df.repartition(parts), "doc_id", "text",
                                 n=3, min_docs=2).collect()}
        assert len(out) == 200
        # every doc: 4 distinct trigrams, exactly one ("a b c") shared
        assert all(r["n_grams"] == 4 and r["n_shared"] == 1
                   for r in out.values())


def test_decontaminate_eval_doc_overlapping_everything(spark):
    """One eval doc whose grams hit every training doc: the broadcast
    eval-gram dimension fans out to all docs without changing exactness."""
    from ocr_spark.functions.curation import decontaminate

    train = spark.createDataFrame(
        [(i, f"common ngram here x{i} y{i}") for i in range(100)],
        ["doc_id", "text"])
    evald = spark.createDataFrame([(999, "common ngram here")], ["doc_id", "text"])
    out = decontaminate(train, "doc_id", "text", evald, n=3, min_hits=1)
    rows = out.collect()
    assert len(rows) == 100
    assert all(r["n_hits"] == 1 and r["contaminated"] == 1 for r in rows)


def test_vocab_topk_partition_invariant(spark):
    """TakeOrdered must return the same top-k regardless of partitioning
    (deterministic (cf DESC, w) total order)."""
    from ocr_spark.queries import QUERIES

    a = QUERIES["vocab_topk"](spark, "/root/testdata/sf0.001")
    got = [tuple(r) for r in a.collect()]
    assert got == sorted(got, key=lambda t: t[0])  # ranks ascending
    assert all(got[i][2] >= got[i + 1][2] for i in range(len(got) - 1))
