"""Unit tests for round-4 batch: access-log parsing, UA classification,
security-header audit."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestApacheLogParse:
    def test_fields_and_malformed_lane(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["apache_log_parse"](spark, d).collect()}
        assert out[0]["ip"] == "10.0.0.0"
        assert out[0]["method"] == "GET"
        assert out[0]["path"] == "/index.html"
        assert out[0]["status"] == 200 and out[0]["bytes"] == 5120
        assert out[0]["malformed"] == 0
        assert out[1]["method"] == "POST" and out[1]["status"] == 404
        # garbled line: all NULL, flagged — never silently dropped
        assert out[2]["ip"] is None and out[2]["status"] is None
        assert out[2]["malformed"] == 1
        # HEAD with '-' bytes parses with NULL bytes, NOT malformed
        assert out[3]["method"] == "HEAD"
        assert out[3]["status"] == 500
        assert out[3]["bytes"] is None
        assert out[3]["malformed"] == 0


class TestUaClassify:
    def test_priority_order(self, spark, body_docs):
        d = body_docs(5)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["ua_classify"](spark, d).collect()}
        assert out[0]["ua_class"] == "desktop"
        assert out[1]["ua_class"] == "mobile"
        # Googlebot contains 'Mozilla/' but the bot test runs first
        assert out[2]["ua_class"] == "bot" and out[2]["is_bot"] == 1
        assert out[3]["ua_class"] == "bot"   # curl
        assert out[4]["ua_class"] == "bot"   # python-requests


class TestSecurityHeadersAudit:
    def test_scoring(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["security_headers_audit"](spark, d)
               .collect()}
        # all four headers, no leak
        assert out[0]["security_score"] == 4
        # one header + versioned nginx banner -> 1 - 1 = 0
        assert out[1]["has_xfo"] == 1
        assert out[1]["leaks_version"] == 1
        assert out[1]["security_score"] == 0
        # bare 'server: apache' is not a version leak, but
        # x-powered-by is -> score -1
        assert out[2]["leaks_version"] == 1
        assert out[2]["security_score"] == -1
        assert out[3]["security_score"] == 2
