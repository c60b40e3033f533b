"""Unit tests for round-4 batch 2 extraction ops: pagination chains,
email de-obfuscation, comment stripping, AMP variant detection."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestPaginationChains:
    def test_heads_and_chain_membership(self, spark, body_docs):
        # 8 docs -> two 4-page articles a0 (p0..p3) and a1 (p0..p3)
        d = body_docs(8)
        out = {r["url"]: r.asDict()
               for r in QUERIES["pagination_chains"](spark, d).collect()}
        assert len(out) == 8
        for a in (0, 1):
            head = f"https://s.com/a{a}/p0"
            for p in range(4):
                row = out[f"https://s.com/a{a}/p{p}"]
                assert row["head"] == head
                assert row["chain_len"] == 4
                assert row["is_head"] == (1 if p == 0 else 0)

    def test_partial_article_is_own_chain(self, spark, body_docs):
        # 5 docs: article a0 complete, a1 has only p0 (links to a
        # nonexistent p1 -> p0 both head and sole member)
        d = body_docs(5)
        out = {r["url"]: r.asDict()
               for r in QUERIES["pagination_chains"](spark, d).collect()}
        # the dangling next target p1 of a1 never exists as a page row
        assert "https://s.com/a1/p1" not in out
        assert out["https://s.com/a1/p0"]["is_head"] == 1
        assert out["https://s.com/a1/p0"]["chain_len"] == 1


class TestEmailDeobfuscate:
    def test_all_forms(self, spark, body_docs):
        d = body_docs(5)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["email_deobfuscate"](spark, d).collect()}
        assert out[0]["email"] == "alice0@example.com"
        assert out[0]["was_obfuscated"] == 1
        assert out[1]["email"] == "bob@site1.org"
        assert out[2]["email"] == "carol@corp.net"
        assert out[3]["email"] == "dave@real.io"
        assert out[3]["was_obfuscated"] == 0
        assert out[4]["email"] is None


class TestHtmlCommentStrip:
    def test_nongreedy_and_conditional(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["html_comment_strip"](spark, d).collect()}
        assert out[0]["n_comments"] == 1
        assert out[0]["stripped"] == "<p>keep 0</p><p>also keep</p>"
        # two comments with text between: non-greedy keeps 'after'
        assert out[1]["n_comments"] == 2
        assert out[1]["stripped"] == "beforeafter"
        assert out[2]["has_conditional"] == 1
        assert out[2]["stripped"] == "content"
        assert out[3]["n_comments"] == 0
        assert out[3]["comment_chars"] == 0


class TestAmpVariantDetect:
    def test_both_sides_of_the_pair(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["amp_variant_detect"](spark, d).collect()}
        # canonical page pointing at its AMP twin
        assert out[0]["amp_url"] == "https://m.site/amp/0"
        assert out[0]["is_amp_page"] == 0
        # AMP page with backlink
        assert out[1]["is_amp_page"] == 1
        assert out[1]["canonical_url"] == "https://site/p1"
        # emoji marker
        assert out[2]["is_amp_page"] == 1
        assert out[2]["amp_url"] is None
        # ordinary page
        assert out[3] == {"doc": 3, "amp_url": None, "is_amp_page": 0,
                          "canonical_url": None}
