"""Unit tests for round-4 batch: hierarchical category rollup and
rendezvous shard assignment."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestCategoryRollup:
    def test_subtree_sums_ternary_tree(self, spark, body_docs):
        # 80 docs -> categories 0..39 get exactly 2 docs each
        d = body_docs(80)
        out = {r["category"]: r.asDict()
               for r in QUERIES["category_rollup"](spark, d).collect()}
        assert len(out) == 40
        # every category has own_cnt 2
        assert all(v["own_cnt"] == 2 for v in out.values())
        # root subtree covers everything
        assert out[0]["subtree_cnt"] == 80
        assert out[0]["depth"] == 0
        # category 1's subtree: {1} + children {4,5,6} + grandchildren
        # {13..21} -> 13 nodes * 2 docs
        assert out[1]["subtree_cnt"] == 26
        assert out[1]["depth"] == 1
        # category 4: {4} + children {13,14,15} -> 8 docs
        assert out[4]["subtree_cnt"] == 8
        assert out[4]["depth"] == 2
        # leaf category 39: itself only
        assert out[39]["subtree_cnt"] == 2
        assert out[39]["depth"] == 3
        # parent subtree always >= child subtree
        assert out[12]["subtree_cnt"] > out[39]["subtree_cnt"]

    def test_depth_partitions_sum(self, spark, body_docs):
        d = body_docs(40)
        out = {r["category"]: r.asDict()
               for r in QUERIES["category_rollup"](spark, d).collect()}
        # level sums: root's children 1,2,3 partition all non-root docs
        assert (out[1]["subtree_cnt"] + out[2]["subtree_cnt"]
                + out[3]["subtree_cnt"]) == out[0]["subtree_cnt"] - 1


class TestRendezvousAssign:
    def test_minimal_movement_property(self, spark, body_docs):
        d = body_docs(1000)
        out = {r["node"]: r.asDict()
               for r in QUERIES["rendezvous_assign"](spark, d).collect()}
        assert set(out) == {0, 1, 2, 3, 4, 5}
        # THE rendezvous property: docs only ever move TO the new node.
        # Old nodes keep every doc they keep assigned; movers all land
        # on node 5.
        for n in range(5):
            assert out[n]["n_moved_in"] == 0
        assert out[5]["n_moved_in"] == out[5]["n_assigned"]
        assert out[5]["n_stayed"] == 0
        # totals account for every doc
        assert sum(v["n_assigned"] for v in out.values()) == 1000
        # reasonable balance: no node over 35% with this hash
        assert max(v["n_assigned"] for v in out.values()) <= 350
