"""Unit tests for round-4 batch: license detection, image alt-text
pairs, toxicity wordlist gate, and ad-density scoring."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestLicenseDetect:
    def test_all_six_branches(self, spark, body_docs):
        d = body_docs(6)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["license_detect"](spark, d).collect()}
        assert out[0]["cc_variant"] == "by"
        assert out[0]["redistributable"] == 1
        # NC-ND is CC but NOT redistributable for training
        assert out[1]["cc_variant"] == "by-nc-nd"
        assert out[1]["redistributable"] == 0
        assert out[2]["all_rights_reserved"] == 1
        assert out[2]["redistributable"] == 0
        assert out[3]["spdx_id"] == "MIT"
        assert out[3]["redistributable"] == 1
        assert out[4]["cc_variant"] == "zero"
        assert out[4]["redistributable"] == 1
        # no signal at all -> NULL variants, not redistributable
        assert out[5]["cc_variant"] is None
        assert out[5]["spdx_id"] is None
        assert out[5]["redistributable"] == 0


class TestImgAltPairs:
    def test_pairs_and_filtering(self, spark, body_docs):
        d = body_docs(4)
        rows = QUERIES["img_alt_pairs"](spark, d).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc"], []).append(r.asDict())
        # doc 0: two images with captions
        alts = sorted(p["alt"] for p in by_doc[0])
        assert alts == ["A red fox in the snow", "Chart of results"]
        assert {p["src"] for p in by_doc[0]} == {"/a0.jpg", "/b.png"}
        # doc 1: empty alt and missing alt both drop
        assert 1 not in by_doc
        # doc 2: no images
        assert 2 not in by_doc
        # doc 3: alt BEFORE src still pairs
        assert by_doc[3][0]["alt"] == "Portrait of the author"
        assert by_doc[3][0]["src"] == "/p0.webp"
        assert by_doc[3][0]["alt_words"] == 4


class TestToxicityGate:
    def test_word_boundaries_and_density(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["toxicity_gate"](spark, d).collect()}
        # doc 0: hell + damn = 2 hits / 8 words -> 250 per kword, not gated
        assert out[0]["n_hits"] == 2
        assert out[0]["gated"] == 0
        # doc 1: clean
        assert out[1]["n_hits"] == 0
        # doc 2: hate, stupid, idiot, hell = 4 / 10 words -> 400, gated
        assert out[2]["n_hits"] == 4
        assert out[2]["gated"] == 1
        # doc 3: shell/hello/helluva/hatering are substring traps -> 0
        assert out[3]["n_hits"] == 0
        assert out[3]["gated"] == 0


class TestAdDensity:
    def test_signals_and_gate(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["ad_density"](spark, d).collect()}
        # doc 0: ad-banner class + ads- id -> 2 containers, heavy
        assert out[0]["n_ad_containers"] == 2
        assert out[0]["ad_heavy"] == 1
        # doc 1: one ad iframe only -> not heavy
        assert out[1]["n_iframes"] == 1
        assert out[1]["ad_heavy"] == 0
        # doc 2: clean article
        assert out[2]["n_ad_containers"] == 0
        assert out[2]["ad_heavy"] == 0
        # doc 3: sponsored container + ad script -> heavy
        assert out[3]["n_ad_containers"] == 1
        assert out[3]["n_ad_scripts"] == 1
        assert out[3]["ad_heavy"] == 1
