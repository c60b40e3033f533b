"""Plan-shape regression tests for the round-4 session-2 operators:
the scale claims in their docstrings (in-row pair emission, zero-join
explodes, single-shuffle windows, broadcast-only rings) are asserted
against the EXECUTED plan, so a refactor that silently reintroduces a
corpus self-join or an extra shuffle fails CI — the same discipline as
the payload-join plan test."""

from __future__ import annotations

from ocr_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_basket_pair_lift_pairs_are_in_row(spark):
    # pair generation must be the in-row explode, never a corpus
    # self-join: no sort-merge join, no cartesian product anywhere;
    # the only nested-loop is the sanctioned 1-row scalar broadcast
    p = _plan(spark, "basket_pair_lift")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_skipgram_pairs_no_positional_self_join(spark):
    # the whole query is explode -> agg: zero join operators of any kind
    p = _plan(spark, "skipgram_pairs")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_token_chunking_zero_shuffle(spark):
    # pure in-row projection: the only Exchange is the under-parallel
    # scan repartition from _cpu, never a hash shuffle
    p = _plan(spark, "token_chunking")
    assert "hashpartitioning" not in p
    assert "SortMergeJoin" not in p


def test_consistent_hash_ring_broadcast_only(spark):
    # the ring rides in 1-row broadcasts; doc rows must never hit a
    # shuffled join
    p = _plan(spark, "consistent_hash_ring")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_asof_join_single_shuffle_window(spark):
    # the as-of is ONE keyed window: exactly one hash-partitioning
    # exchange (on the join key), and no join operator at all
    p = _plan(spark, "asof_join_enrich")
    assert p.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p
    assert "Window" in p


def test_rake_and_good_turing_no_quadratic_ops(spark):
    for name in ("rake_keyphrases", "good_turing_counts"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "SortMergeJoin" not in p, name
