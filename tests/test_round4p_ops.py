"""Unit tests for round-4 batch: byline/dateline extraction, comment-
section / product-page / placeholder / data-dump detection, keyword
stuffing."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestBylineExtract:
    def test_all_branches(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["byline_extract"](spark, d).collect()}
        assert out[0]["byline"] == "Jane Smith"
        assert out[0]["has_attribution"] == 1
        assert out[1]["dateline_city"] == "LONDON"
        assert out[1]["agency"] == "Reuters"
        assert out[1]["has_attribution"] == 1
        # no attribution -> NULLs, never ''
        assert out[2]["byline"] is None
        assert out[2]["agency"] is None
        assert out[2]["has_attribution"] == 0
        # 'By Arun Patel | Staff Writer' still extracts the name
        assert out[3]["byline"] == "Arun Patel"


class TestCommentSectionDetect:
    def test_markers_and_reply_threshold(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["comment_section_detect"](spark, d)
               .collect()}
        # doc 0: '42 Comments' + 'Leave a Reply' + email notice
        assert out[0]["n_comment_markers"] == 3
        assert out[0]["has_comment_section"] == 1
        # doc 1: two bare Reply buttons, no chrome phrases
        assert out[1]["n_comment_markers"] == 0
        assert out[1]["n_reply_markers"] == 2
        assert out[1]["has_comment_section"] == 1
        # doc 2: clean article
        assert out[2]["has_comment_section"] == 0
        # doc 3: 'Comments are closed.'
        assert out[3]["n_comment_markers"] == 1
        assert out[3]["has_comment_section"] == 1


class TestProductPageDetect:
    def test_cta_co_occurrence(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["product_page_detect"](spark, d).collect()}
        # doc 0: price + 2 CTAs + SKU
        assert out[0]["n_prices"] == 1
        assert out[0]["n_cart_ctas"] == 2
        assert out[0]["has_sku"] == 1
        assert out[0]["is_product"] == 1
        # doc 1: Product JSON-LD alone gates
        assert out[1]["product_schema"] == 1
        assert out[1]["is_product"] == 1
        # doc 2: a lone price in prose does NOT gate
        assert out[2]["n_prices"] == 1
        assert out[2]["n_cart_ctas"] == 0
        assert out[2]["is_product"] == 0
        # doc 3: price + 3 CTAs
        assert out[3]["n_cart_ctas"] == 3
        assert out[3]["is_product"] == 1


class TestPlaceholderDetect:
    def test_lorem_and_phrase_threshold(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["placeholder_detect"](spark, d).collect()}
        assert out[0]["lorem_hits"] == 3
        assert out[0]["is_placeholder"] == 1
        assert out[1]["placeholder_hits"] == 3
        assert out[1]["is_placeholder"] == 1
        assert out[2]["is_placeholder"] == 0
        # example.com boilerplate: 2 generic phrases
        assert out[3]["placeholder_hits"] == 2
        assert out[3]["is_placeholder"] == 1


class TestKeywordStuffing:
    def test_share_gate(self, spark, body_docs):
        d = body_docs(3)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["keyword_stuffing"](spark, d).collect()}
        # doc 0: 'cheap' 4/11 words = 3636 bp -> stuffed
        assert out[0]["top_word_count"] == 4
        assert out[0]["n_words"] == 11
        assert out[0]["stuffed"] == 1
        # doc 1: normal prose, 'the' twice in 13 words
        assert out[1]["top_word_count"] == 2
        assert out[1]["stuffed"] == 0
        # doc 2: 'widget' 4/10 = 4000 bp -> stuffed
        assert out[2]["top_word_count"] == 4
        assert out[2]["stuffed"] == 1


class TestDataDumpDetect:
    def test_all_branches(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["data_dump_detect"](spark, d).collect()}
        # doc 0: server log — 2 IPs + 2 ISO timestamps
        assert out[0]["n_ips"] == 2
        assert out[0]["n_iso_ts"] == 2
        assert out[0]["is_dump"] == 1
        # doc 1: 2 UUIDs + 1 standalone hex run; each UUID's 12-char
        # tail segment also matches the hex-run pattern (overlapping
        # signals feed the same gate, so the overlap is harmless)
        assert out[1]["n_uuids"] == 2
        assert out[1]["n_hex_runs"] == 3
        assert out[1]["is_dump"] == 1
        # doc 2: prose with a single trailing digit
        assert out[2]["is_dump"] == 0
        assert out[2]["digit_ratio_bp"] < 1000
        # doc 3: CSV table — digit mass alone gates
        assert out[3]["digit_ratio_bp"] >= 3000
        assert out[3]["is_dump"] == 1
