"""Unit tests for round-4 batch: exact prefix-filtered similarity
join (round 5: rewritten against an in-test brute-force reference —
key-agnostic, so the bounded div-250 cluster key change can't silently
weaken it; completeness is checked pair-for-pair, not via hand-derived
cases)."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


def _toks(doc_id: int) -> frozenset[str]:
    # mirror of _PFJ_TOKENS_SQL / q_prefix_filter_join's token synth
    cluster = doc_id // 250
    dropped = f"c{cluster}_{(doc_id // 20) % 4}"
    toks = {f"c{cluster}_{j}" for j in range(8)} - {dropped}
    toks.add(f"x{doc_id % 7}")
    return frozenset(toks)


def _brute_force(n: int) -> dict[tuple[int, int], tuple[int, int, int]]:
    out = {}
    for a in range(n):
        for b in range(a + 1, n):
            ta, tb = _toks(a), _toks(b)
            inter = len(ta & tb)
            union = len(ta | tb)
            if inter * 10000 >= 6000 * union:
                out[(a, b)] = (inter, union, inter * 10000 // union)
    return out


class TestPrefixFilterJoin:
    def test_exact_vs_bruteforce_semantics(self, spark, body_docs):
        # 40 docs: one div-250 cluster, two dropped-token variants
        # (doc//20 % 4 = 0 or 1), seven noise tokens — every qualifying
        # pair (identical 10000bp, one-sided 7777bp, boundary 6000bp)
        # must be found with exact integer stats: the prefix filter's
        # no-false-negative guarantee checked pair-for-pair.
        d = body_docs(40)
        rows = QUERIES["prefix_filter_join"](spark, d).collect()
        got = {(r["d1"], r["d2"]): (r["inter"], r["union_sz"],
                                    r["jaccard_bp"]) for r in rows}
        expected = _brute_force(40)
        assert got == expected
        assert len(got) > 100  # dense same-cluster block, not a trivial set
        # boundary case is present and exact: different dropped token,
        # different noise -> inter 6, union 10, exactly 6000 bp
        assert (0, 22) in expected and expected[(0, 22)] == (6, 10, 6000)

    def test_multi_cluster_no_cross_pairs(self, spark, body_docs):
        # 300 docs spans clusters 0 and 1 (div 250): no pair may cross
        # the cluster boundary (disjoint cluster tokens cap jaccard at
        # 1/15), and completeness must hold per cluster.
        d = body_docs(300)
        rows = QUERIES["prefix_filter_join"](spark, d).collect()
        got = {(r["d1"], r["d2"]) for r in rows}
        assert got == set(_brute_force(300))
        assert all(d1 // 250 == d2 // 250 for d1, d2 in got)
