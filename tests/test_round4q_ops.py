"""Unit tests for round-4 batch: recipe / how-to / review / legal /
directory-listing detection and forum-thread parsing."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestRecipeDetect:
    def test_all_branches(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["recipe_detect"](spark, d).collect()}
        assert out[0]["recipe_schema"] == 1
        assert out[0]["is_recipe"] == 1
        # ingredient list: 3 quantity lines + 2 numbered steps
        assert out[1]["n_quantity_lines"] == 3
        assert out[1]["n_step_lines"] == 2
        assert out[1]["is_recipe"] == 1
        # bakery news story never gates
        assert out[2]["is_recipe"] == 0
        # narrative recipe: cook verbs + inline quantities
        assert out[3]["n_cook_verbs"] == 2
        assert out[3]["n_inline_qty"] == 2
        assert out[3]["is_recipe"] == 1


class TestHowtoDetect:
    def test_all_branches(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["howto_detect"](spark, d).collect()}
        assert out[0]["howto_schema"] == 1
        assert out[0]["is_howto"] == 1
        assert out[1]["n_step_markers"] == 3
        assert out[1]["is_howto"] == 1
        assert out[2]["n_numbered_steps"] == 4
        assert out[2]["is_howto"] == 1
        assert out[3]["is_howto"] == 0


class TestReviewPageDetect:
    def test_rating_shapes(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["review_page_detect"](spark, d).collect()}
        assert out[0]["n_rating_phrases"] == 1
        assert out[0]["n_review_markers"] == 3
        assert out[0]["is_review"] == 1
        assert out[1]["n_star_runs"] == 1
        assert out[1]["is_review"] == 1
        assert out[2]["review_schema"] == 1
        assert out[2]["is_review"] == 1
        # 'rated ... favorably' has the verb but no rating shape
        assert out[3]["is_review"] == 0


class TestLegalDocDetect:
    def test_all_branches(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["legal_doc_detect"](spark, d).collect()}
        assert out[0]["n_legal_titles"] == 1
        assert out[0]["n_shall"] == 2
        assert out[0]["n_section_nums"] == 2
        assert out[0]["is_legal"] == 1
        assert out[1]["n_legal_titles"] == 1
        assert out[1]["is_legal"] == 1
        # legalese vocabulary alone (hereinafter + hereto)
        assert out[2]["n_legalese"] == 2
        assert out[2]["is_legal"] == 1
        assert out[3]["is_legal"] == 0


class TestDirectoryListingDetect:
    def test_all_branches(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["directory_listing_detect"](spark, d)
               .collect()}
        assert out[0]["has_index_header"] == 1
        assert out[0]["n_file_rows"] == 2
        assert out[0]["is_listing"] == 1
        assert out[1]["n_perm_strings"] == 2
        assert out[1]["is_listing"] == 1
        assert out[2]["is_listing"] == 0
        # headerless file table still gates on >=2 file rows
        assert out[3]["n_file_rows"] == 3
        assert out[3]["is_listing"] == 1


class TestForumThreadParse:
    def test_posts_authors_and_prose_negative(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["forum_thread_parse"](spark, d).collect()}
        # doc 0: 3 posts, 2 distinct authors
        assert out[0]["n_posts"] == 3
        assert out[0]["n_authors"] == 2
        assert out[0]["is_thread"] == 1
        # doc 1: single post is not a thread
        assert out[1]["n_posts"] == 1
        assert out[1]["is_thread"] == 0
        # doc 2: 'The observatory posted ...' prose never counts
        assert out[2]["n_posts"] == 0
        assert out[2]["is_thread"] == 0
        # doc 3: Re: subject + 2 posts
        assert out[3]["has_re_subject"] == 1
        assert out[3]["n_posts"] == 2
        assert out[3]["n_authors"] == 2
        assert out[3]["is_thread"] == 1
