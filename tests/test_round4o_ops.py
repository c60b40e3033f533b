"""Unit tests for round-4 batch: code-file quality gates, math-content /
Q&A / transcript detection, quote density, sentence segmentation."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestCodeQuality:
    def test_all_five_branches(self, spark, body_docs):
        d = body_docs(5)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["code_quality"](spark, d).collect()}
        # doc 0: clean short-lined code keeps
        assert out[0]["n_lines"] == 4
        assert out[0]["max_line_len"] <= 120
        assert out[0]["keep"] == 1
        # doc 1: DO NOT EDIT marker drops
        assert out[1]["autogen"] == 1
        assert out[1]["keep"] == 0
        # doc 2: 180-char minified line drops
        assert out[2]["max_line_len"] == 180
        assert out[2]["n_long_lines"] == 1
        assert out[2]["keep"] == 0
        # doc 3: 64-char base64 run drops
        assert out[3]["has_b64_blob"] == 1
        assert out[3]["keep"] == 0
        # doc 4: prose has no code pathologies -> keeps
        assert out[4]["keep"] == 1


class TestMathDetect:
    def test_branches_and_price_negative(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["math_detect"](spark, d).collect()}
        # doc 0: $...$ with ^ inside + \frac + \sum
        assert out[0]["n_inline_math"] == 1
        assert out[0]["n_latex_cmds"] == 2
        assert out[0]["is_math"] == 1
        # doc 1: three spaced equations, no LaTeX
        assert out[1]["n_equations"] == 3
        assert out[1]["is_math"] == 1
        # doc 2: '$5 ... $10' price prose is NOT inline math
        assert out[2]["n_inline_math"] == 0
        assert out[2]["is_math"] == 0
        # doc 3: theorem/proof/integer keywords
        assert out[3]["n_math_words"] == 3
        assert out[3]["is_math"] == 1


class TestQaPageDetect:
    def test_pairing_and_rhetorical_negative(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["qa_page_detect"](spark, d).collect()}
        # doc 0: two Q:/A: pairs, both question lines end with ?
        assert out[0]["n_q_markers"] == 2
        assert out[0]["n_a_markers"] == 2
        assert out[0]["qa_pairs"] == 2
        assert out[0]["n_question_lines"] == 2
        assert out[0]["is_qa"] == 1
        # doc 1: FAQPage JSON-LD alone gates
        assert out[1]["faq_schema"] == 1
        assert out[1]["is_qa"] == 1
        # doc 2: a mid-line rhetorical ? is not a question line
        assert out[2]["n_question_lines"] == 0
        assert out[2]["is_qa"] == 0
        # doc 3: interview has question lines but no Q:/A: markers
        assert out[3]["n_question_lines"] == 2
        assert out[3]["qa_pairs"] == 0
        assert out[3]["is_qa"] == 0


class TestTranscriptDetect:
    def test_branches_and_clock_negative(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["transcript_detect"](spark, d).collect()}
        # doc 0: SRT arrows + 4 cue timestamps
        assert out[0]["n_arrows"] == 2
        assert out[0]["n_timestamps"] == 4
        assert out[0]["is_transcript"] == 1
        # doc 1: three SPEAKER: lines
        assert out[1]["n_speaker_lines"] == 3
        assert out[1]["is_transcript"] == 1
        # doc 2: two clock mentions in prose stay below the gate
        assert out[2]["n_timestamps"] == 2
        assert out[2]["is_transcript"] == 0
        # doc 3: chapter list with 4 timestamps gates
        assert out[3]["n_timestamps"] == 4
        assert out[3]["is_transcript"] == 1


class TestQuoteDensity:
    def test_attribution_gate(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["quote_density"](spark, d).collect()}
        # doc 0: two attributed quotes -> dialog
        assert out[0]["n_quotes"] == 2
        assert out[0]["n_attrib"] == 2
        assert out[0]["has_dialog"] == 1
        assert out[0]["quoted_bp"] > 0
        # doc 1: no quotes at all
        assert out[1]["n_quotes"] == 0
        assert out[1]["quoted_chars"] == 0
        assert out[1]["quoted_bp"] == 0
        # doc 2: three quotes but zero attribution verbs -> not dialog
        assert out[2]["n_quotes"] == 3
        assert out[2]["has_dialog"] == 0
        # doc 3: one quoted sign, no attribution -> not dialog
        assert out[3]["n_quotes"] == 1
        assert out[3]["quoted_chars"] == len('"No entry beyond this point"')
        assert out[3]["has_dialog"] == 0


class TestSentenceStats:
    def test_terminated_only_and_runon(self, spark, body_docs):
        d = body_docs(3)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["sentence_stats"](spark, d).collect()}
        # doc 0: five terminated sentences, ends with '.'
        assert out[0]["n_sentences"] == 5
        assert out[0]["ends_terminated"] == 1
        # doc 1: run-on text has zero terminated sentences
        assert out[1]["n_sentences"] == 0
        assert out[1]["ends_terminated"] == 0
        assert out[1]["words_per_sent_x100"] == out[1]["n_words"] * 100
        # doc 2: choppy text -> 4 tiny sentences
        assert out[2]["n_sentences"] == 4
        assert out[2]["words_per_sent_x100"] == 125  # 5 words / 4 sents
        assert out[2]["avg_sent_chars"] >= 2
