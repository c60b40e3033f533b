"""Unit tests for round-4 batch: paywall detection, code-content
detection, and citation-density scoring."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestPaywallDetect:
    def test_all_five_branches(self, spark, body_docs):
        d = body_docs(5)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["paywall_detect"](spark, d).collect()}
        # 0: JSON-LD false + wall class + CTA -> all three signals
        assert out[0]["jsonld_not_free"] == 1
        assert out[0]["wall_class"] == 1
        assert out[0]["cta_phrase"] == 1
        assert out[0]["paywalled"] == 1
        # 1: free article -> nothing
        assert out[1]["paywalled"] == 0
        # 2: wall class + subscriber CTA, no JSON-LD
        assert out[2]["jsonld_not_free"] == 0
        assert out[2]["wall_class"] == 1
        assert out[2]["paywalled"] == 1
        # 3: JSON-LD declares FREE -> not paywalled
        assert out[3]["jsonld_not_free"] == 0
        assert out[3]["paywalled"] == 0
        # 4: newsletter CTA is the false-positive control
        assert out[4]["paywalled"] == 0


class TestCodeDetect:
    def test_gate_needs_density_and_keywords(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["code_detect"](spark, d).collect()}
        # 0: python snippet -> def/return/class keywords + paren density
        assert out[0]["kw_hits"] == 3
        assert out[0]["indented_lines"] == 2
        assert out[0]["is_code"] == 1
        # 1: prose -> zero symbols, zero keywords
        assert out[1]["symbol_chars"] == 0
        assert out[1]["is_code"] == 0
        # 2: js snippet -> brace/semicolon density + keywords
        assert out[2]["kw_hits"] == 3
        assert out[2]["is_code"] == 1
        # 3: prose with one '=' -> density without keywords stays prose
        assert out[3]["symbol_chars"] == 1
        assert out[3]["kw_hits"] == 0
        assert out[3]["is_code"] == 0


class TestCitationDensity:
    def test_counts_and_refs_cut(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["citation_density"](spark, d).collect()}
        # 0: three markers in body ([1] x2, [2]); the References section's
        # own [1]/[2] labels are cut before counting
        assert out[0]["has_refs"] == 1
        assert out[0]["n_citations"] == 3
        assert out[0]["n_distinct_refs"] == 2
        # 1: no citations at all
        assert out[1]["has_refs"] == 0
        assert out[1]["n_citations"] == 0
        assert out[1]["citations_per_kword"] == 0
        # 2: [12] x2 + [3]; Bibliography heading also cuts
        assert out[2]["has_refs"] == 1
        assert out[2]["n_citations"] == 3
        assert out[2]["n_distinct_refs"] == 2
        # 3: [TODO] is not a numeric citation
        assert out[3]["n_citations"] == 0

    def test_density_is_per_kword(self, spark, body_docs):
        d = body_docs(1)
        row = QUERIES["citation_density"](spark, d).collect()[0]
        # body of doc 0 has 10 words ('Fact one.[1] ... Tail 0' — markers
        # attach to words) and 3 citations -> 300 per kword
        assert row["citations_per_kword"] == 3 * 1000 // 10
