"""Unit tests for round-4 batch: delimiter sniffing and unit
normalization."""

from __future__ import annotations

from ocr_spark.queries import QUERIES


class TestDelimiterSniff:
    def test_all_formats(self, spark, body_docs):
        d = body_docs(4)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["delimiter_sniff"](spark, d).collect()}
        # CSV: 3 columns, 4 rows, digit-free header over digit rows
        assert out[0]["delim"] == "comma"
        assert out[0]["n_cols"] == 3
        assert out[0]["n_rows"] == 4
        assert out[0]["has_header"] == 1
        # TSV
        assert out[1]["delim"] == "tab"
        assert out[1]["n_cols"] == 2
        assert out[1]["has_header"] == 1
        # pipe table whose header row contains no digits either — but
        # the first line 'a|b|c' is digit-free and data rows have
        # digits, so has_header fires
        assert out[2]["delim"] == "pipe"
        assert out[2]["n_cols"] == 3
        assert out[2]["has_header"] == 1
        # prose: no consistent delimiter
        assert out[3]["delim"] is None
        assert out[3]["n_cols"] is None
        assert out[3]["has_header"] == 0


class TestUnitNormalize:
    def test_canonical_bases(self, spark, body_docs):
        d = body_docs(5)
        out = {r["doc"]: r.asDict()
               for r in QUERIES["unit_normalize"](spark, d).collect()}
        # '5 km' never half-matches as 'm'
        assert out[0]["unit"] == "km"
        assert out[0]["canonical"] == 5000000
        assert out[0]["dimension"] == "length_mm"
        assert out[1]["canonical"] == 2500  # 250 cm -> mm
        assert out[2]["canonical"] == 3 * 1048576
        assert out[2]["dimension"] == "bytes"
        assert out[3]["canonical"] == 2000  # 2 kg -> g
        assert out[3]["dimension"] == "mass_g"
        assert out[4]["qty"] is None
        assert out[4]["canonical"] is None
        assert out[4]["dimension"] is None
