"""Unit tests for round-4 batch: entity co-occurrence edges and
survivorship golden-record merge."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestEntityCooccurrence:
    def test_pairs_and_support(self, spark, body_docs):
        d = body_docs(6)
        out = {(r["e1"], r["e2"]): r["support"]
               for r in QUERIES["entity_cooccurrence"](spark, d)
               .collect()}
        # docs 0,3 are branch m0 (Alice, Bob, Carol, Paris);
        # docs 1,4 are m1 (Alice, Berlin, Paris); docs 2,5 have none
        assert out[("Alice", "Bob")] == 2
        assert out[("Bob", "Carol")] == 2
        assert out[("Alice", "Paris")] == 4  # both branches
        assert out[("Berlin", "Paris")] == 2
        # duplicate mention of Bob in one doc does not inflate support
        assert out[("Bob", "Paris")] == 2
        # lowercase prose contributes nothing
        assert all(v >= 2 for v in out.values())


class TestSurvivorshipMerge:
    def test_field_level_rules(self, spark, body_docs):
        # 150 docs -> each entity 0..49 has records from doc ids
        # e, e+50, e+100 (sources crm/web/import rotate by id % 3)
        d = body_docs(150)
        out = {r["entity"]: r.asDict()
               for r in QUERIES["survivorship_merge"](spark, d)
               .collect()}
        assert len(out) == 50
        assert all(v["n_records"] == 3 for v in out.values())
        # entity 0: records 0 (crm, 0%4==0 -> no name), 50 (import,
        # named), 100 (web, 100%4==0 -> no name). Only import has a
        # name, so priority falls through to it.
        assert out[0]["best_name"] == "N0_import"
        assert out[0]["best_name_src"] == "import"
        # entity 1: all three named (ids 1 web, 51 crm, 101 import);
        # crm wins by priority
        assert out[1]["best_name"] == "N1_crm"
        assert out[1]["best_name_src"] == "crm"
        # newest email for entity 1: days 1/21/11 -> id 51 wins
        assert out[1]["newest_email"] == "e51@x"
        # entity 5: ids 5 (day 5, 5%5==0 none), 55 (day 25, 55%5==0
        # none), 105 (day 15, 105%5==0 none) -> all missing -> NULL
        assert out[5]["newest_email"] is None
