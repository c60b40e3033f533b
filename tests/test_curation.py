"""Edge-case tests for the curation operators over documents the sf corpus
never contains: empty text, whitespace-only text, one- and two-word docs,
and stratum boundaries of the deterministic sampler."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.curation import (
    corpus_dup_ngrams,
    repetition_stats,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "", "en"),
        (1, "   ", "en"),
        (2, "solo", "en"),
        (3, "two words", "en"),
        (4, "a a a a", "en"),                      # one word repeated
        (5, "x y x y x y", "de"),                  # repeated bigram + trigram
        (6, "p q r s t u v w", "zh"),              # all-distinct words
        (7, "x y x y x y", "fr"),                  # shares trigrams with 5
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def _by_doc(df):
    return {r["doc"]: r.asDict() for r in df.collect()}


def test_repetition_stats_degenerate(docs):
    out = _by_doc(repetition_stats(docs, "doc_id", "text"))
    assert len(out) == 8
    # empty / whitespace-only: zero words, undefined fractions
    for d in (0, 1):
        assert out[d]["n_words"] == 0
        assert out[d]["max_word_frac"] is None
        assert out[d]["top_bigram_frac"] is None
        assert out[d]["dup_trigram_frac"] is None
    # one word: word frac defined, bigram/trigram not
    assert out[2]["n_words"] == 1
    assert out[2]["max_word_frac"] == 1.0
    assert out[2]["top_bigram_frac"] is None
    assert out[2]["dup_trigram_frac"] is None
    # two distinct words: one bigram, no trigram
    assert out[3]["n_words"] == 2
    assert out[3]["max_word_frac"] == 0.5
    assert out[3]["top_bigram_frac"] == 1.0
    assert out[3]["dup_trigram_frac"] is None


def test_repetition_stats_values(docs):
    out = _by_doc(repetition_stats(docs, "doc_id", "text"))
    # "a a a a": 4 words all "a"; 3 bigrams all "a a"; 2 trigrams both dup
    assert out[4] == {
        "doc": 4, "n_words": 4, "max_word_frac": 1.0,
        "top_bigram_frac": 1.0, "dup_trigram_frac": 1.0,
    }
    # "x y x y x y": words 3/6 x; bigrams: "x y"x3, "y x"x2 -> top 3/5;
    # trigrams: "x y x"x2, "y x y"x2 -> all 4 duplicated
    assert out[5] == {
        "doc": 5, "n_words": 6, "max_word_frac": 0.5,
        "top_bigram_frac": 0.6, "dup_trigram_frac": 1.0,
    }
    # all-distinct: no repetition anywhere
    assert out[6]["max_word_frac"] == 0.125
    assert out[6]["dup_trigram_frac"] == 0.0


def test_corpus_dup_ngrams(docs):
    out = _by_doc(corpus_dup_ngrams(docs, "doc_id", "text", n=3, min_docs=2))
    assert len(out) == 8
    # docs 5 and 7 are identical -> every distinct trigram shared
    for d in (5, 7):
        assert out[d]["n_grams"] == 2          # {"x y x", "y x y"}
        assert out[d]["n_shared"] == 2
        assert out[d]["shared_frac"] == 1.0
    # doc 6's trigrams are unique to it
    assert out[6]["n_grams"] == 6
    assert out[6]["n_shared"] == 0
    assert out[6]["shared_frac"] == 0.0
    # too-short docs: zero grams, NULL fraction
    for d in (0, 1, 2, 3):
        assert out[d]["n_grams"] == 0
        assert out[d]["shared_frac"] is None


def test_stratified_sample_matches_python_md5(docs):
    rates = {"en": 0.25, "de": 0.75}
    out = {r["doc"]: r for r in
           stratified_sample(docs, "doc_id", "lang", rates).collect()}
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    for doc_id, lang in langs.items():
        h = int(hashlib.md5(f"strat:v1:{doc_id}".encode()).hexdigest()[:8], 16)
        rate = rates.get(lang, 1.0)
        kept = h < rate * (1 << 32)
        assert (doc_id in out) == kept, (doc_id, lang, h)
        if kept:
            assert out[doc_id]["sample_hash"] == h
            assert out[doc_id]["stratum"] == lang


def test_stratified_sample_deterministic_across_partitionings(docs):
    rates = {"en": 0.5}
    a = sorted(r["doc"] for r in
               stratified_sample(docs.repartition(1), "doc_id", "lang", rates).collect())
    b = sorted(r["doc"] for r in
               stratified_sample(docs.repartition(7), "doc_id", "lang", rates).collect())
    assert a == b


def test_stratified_sample_rate_extremes(spark):
    df = spark.createDataFrame(
        [(i, "t", "en") for i in range(50)], ["doc_id", "text", "lang"])
    none = stratified_sample(df, "doc_id", "lang", {"en": 0.0})
    assert none.count() == 0
    full = stratified_sample(df, "doc_id", "lang", {"en": 1.0})
    assert full.count() == 50


def test_decontaminate(spark):
    from ocr_spark.functions.curation import decontaminate

    train = spark.createDataFrame(
        [(1, "a b c d e"),        # shares trigrams "a b c","b c d","c d e"
         (2, "a b c x y"),        # shares only "a b c"
         (3, "p q r s t"),        # no overlap
         (4, "")],                # no grams at all
        ["doc_id", "text"])
    evald = spark.createDataFrame([(100, "a b c d e f")], ["doc_id", "text"])
    out = _by_doc(decontaminate(train, "doc_id", "text", evald, n=3, min_hits=2))
    assert out[1]["n_hits"] == 3 and out[1]["contaminated"] == 1
    assert out[2]["n_hits"] == 1 and out[2]["contaminated"] == 0
    assert out[3]["n_hits"] == 0 and out[3]["contaminated"] == 0
    assert out[4] == {"doc": 4, "n_grams": 0, "n_hits": 0,
                      "hit_frac": None, "contaminated": 0}


def test_curation_pass_precedence(spark):
    from ocr_spark.functions.curation import curation_pass

    # doc 1 is BOTH repetitive and contaminated -> 'repetitive' must win;
    # doc 2 contaminated only; doc 3 clean but hash-sampled out at rate 0;
    # doc 4 clean at rate 1.0 -> keep.
    train = spark.createDataFrame(
        [(1, "a b c a b c a b c a b c", "xx"),
         (2, "a b c d e unique tail words here now", "yy"),
         (3, "p q r s t u v w distinct only words", "zz"),
         (4, "m n o just some other words here too", "yy")],
        ["doc_id", "text", "lang"])
    evald = spark.createDataFrame([(100, "a b c d e f")], ["doc_id", "text"])
    out = {r["doc"]: r for r in curation_pass(
        train, "doc_id", "text", "lang", evald,
        rates={"zz": 0.0}, contamination_min_hits=1).collect()}
    assert out[1]["reason"] == "repetitive" and out[1]["keep"] == 0
    assert out[2]["reason"] == "contaminated"
    assert out[3]["reason"] == "sampled_out"
    assert out[4]["reason"] == "keep" and out[4]["keep"] == 1


@pytest.mark.parametrize("raw,want", [
    ("HTTP://A.COM:80/P?x=1#f", "http://a.com/P?x=1"),
    ("https://a.org:443", "https://a.org/"),
    ("https://a.org:8443/p", "https://a.org:8443/p"),
    ("http://h.io?utm_source=x", "http://h.io/"),
    ("http://h.io/p?utm_a=1&utm_b=2&q=3", "http://h.io/p?q=3"),
    ("http://h.io/p?q=3&fbclid=zz", "http://h.io/p?q=3"),
    ("http://h.io/p?gclid=1&msclkid=2", "http://h.io/p"),
    ("http://[2001:db8::80]/x", "http://[2001:db8::80]/x"),  # :80 inside brackets
    ("http://h.io/CaseKept/Q?A=B", "http://h.io/CaseKept/Q?A=B"),
])
def test_canonical_url(spark, raw, want):
    from ocr_spark.functions.curation import canonical_url

    got = (spark.createDataFrame([(raw,)], ["url"])
           .select(canonical_url(F.col("url")).alias("c")).collect()[0]["c"])
    assert got == want, (raw, got, want)


def test_repetition_stats_ns_subset_matches_full(docs):
    full = _by_doc(repetition_stats(docs, "doc_id", "text"))
    sub = _by_doc(repetition_stats(docs, "doc_id", "text", ns=(1, 3)))
    for d, row in sub.items():
        assert row["top_bigram_frac"] is None
        for col in ("n_words", "max_word_frac", "dup_trigram_frac"):
            assert row[col] == full[d][col], (d, col)


def test_pack_shards_budget_and_determinism(spark):
    from ocr_spark.functions.curation import pack_shards

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(10 + i % 7))) for i in range(300)],
        ["doc_id", "text"])
    out = pack_shards(df, "doc_id", "text", tokens_per_shard=50, n_buckets=4)
    rows = out.collect()
    assert len(rows) == 300
    # within a shard, cumulative tokens BEFORE each doc stay under budget:
    # group by shard, docs in id order, running total before last doc < 50
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc"])):
        by_shard.setdefault(r["shard"], []).append(r["n_tokens"])
    for shard, toks in by_shard.items():
        assert sum(toks[:-1]) < 50, (shard, toks)
    # shard id encodes the bucket
    for r in rows:
        assert r["shard"] >> 32 == r["bucket"]
    # partition-count invariance
    again = {r["doc"]: r["shard"] for r in
             pack_shards(df.repartition(13), "doc_id", "text",
                         tokens_per_shard=50, n_buckets=4).collect()}
    assert again == {r["doc"]: r["shard"] for r in rows}


def test_no_shuffle_in_sampler_plan(docs):
    plan = stratified_sample(docs, "doc_id", "lang", {"en": 0.5})._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_line_dedup_removes_boilerplate_keeps_order(spark):
    from ocr_spark.functions.curation import line_dedup

    header, footer = "Home | About", "(c) 2024 site"
    rows = [(i, f"{header}\ncontent {i} alpha\ncontent {i} beta\n{footer}")
            for i in range(6)]
    # one doc that is ALL boilerplate, one with a blank line
    rows.append((6, f"{header}\n{footer}"))
    rows.append((7, f"{header}\nunique line\n\nsecond unique\n{footer}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r.asDict()
           for r in line_dedup(df, "doc_id", "text", min_docs=3).collect()}
    assert len(out) == 8
    # boilerplate gone, content preserved in original order
    assert out[2]["clean_text"] == "content 2 alpha\ncontent 2 beta"
    assert out[2]["n_lines"] == 4 and out[2]["n_removed"] == 2
    # all-boilerplate doc -> empty
    assert out[6]["clean_text"] == "" and out[6]["n_removed"] == 2
    # blank lines survive verbatim and are never counted as boilerplate
    assert out[7]["clean_text"] == "unique line\n\nsecond unique"
    assert out[7]["n_removed"] == 2


def test_line_dedup_normalized_matching_and_threshold(spark):
    from ocr_spark.functions.curation import line_dedup

    # same line modulo case/whitespace counts as one normalized form
    rows = [(0, "  SHARED Line \nkeep0"), (1, "shared line\nkeep1"),
            (2, "Shared LINE\nkeep2"), (3, "below threshold\nkeep3"),
            (4, "below threshold\nkeep4")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r.asDict()
           for r in line_dedup(df, "doc_id", "text", min_docs=3).collect()}
    for i in range(3):
        assert out[i]["clean_text"] == f"keep{i}", out[i]
    # 'below threshold' appears in only 2 docs < min_docs=3 -> kept
    assert out[3]["clean_text"] == "below threshold\nkeep3"


def test_line_dedup_partition_invariance(spark):
    from ocr_spark.functions.curation import line_dedup

    rows = [(i, f"Home | About\nbody {i % 4} text\nEnd")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc"]: r["clean_text"]
         for r in line_dedup(df, "doc_id", "text", min_docs=5).collect()}
    b = {r["doc"]: r["clean_text"]
         for r in line_dedup(df.repartition(17), "doc_id", "text",
                             min_docs=5).collect()}
    assert a == b
    # body lines repeat across 10 docs each (>= 5) -> everything removed
    assert all(v == "" for v in a.values())


def test_tfidf_topk_scores_and_ties(spark):
    from ocr_spark.functions.curation import tfidf_topk

    rows = [
        (0, "common rare0 rare0 common"),
        (1, "common rare1"),
        (2, "common common common"),   # only the stopword-like term
        (3, ""),                       # empty doc -> no rows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_topk(df, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc"], []).append(r)
    assert 3 not in by_doc
    # doc 0: rare0 (tf=2, df=1, idf=ln(4)) beats common (df=3)
    d0 = sorted(by_doc[0], key=lambda r: r["rank"])
    assert d0[0]["term"] == "rare0" and d0[0]["tf"] == 2
    assert d0[0]["score_micro"] == 2 * round(__import__("math").log(4 / 1) * 1e6)
    assert d0[1]["term"] == "common"
    # doc 2: a term present in every... (df=3 of 4) still ranked, tf=3
    d2 = by_doc[2]
    assert len(d2) == 1 and d2[0]["term"] == "common" and d2[0]["tf"] == 3
    # ranks are 1..k dense per doc
    for doc, rs in by_doc.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))


def test_length_percentiles_exact_and_edge_strata(spark):
    from ocr_spark.functions.curation import length_percentiles

    rows = (
        # 'a': values 1..10 -> p50 = 5 (cum>=5), p90 = 9, p99 = 10
        [(f"a{i}", "a", i) for i in range(1, 11)]
        # 'b': single row -> every percentile is that value
        + [("b0", "b", 42)]
        # 'c': heavy ties -> 1 x9, 100 x1: p50 = 1, p90 = 1, p99 = 100
        + [(f"c{i}", "c", 1) for i in range(9)] + [("c9", "c", 100)]
    )
    df = spark.createDataFrame(rows, ["id", "lang", "n"])
    out = {r["stratum"]: r.asDict()
           for r in length_percentiles(df, "lang", "n").collect()}
    assert out["a"]["n_docs"] == 10
    assert (out["a"]["p50"], out["a"]["p90"], out["a"]["p99"]) == (5, 9, 10)
    assert (out["b"]["p50"], out["b"]["p90"], out["b"]["p99"]) == (42, 42, 42)
    assert (out["c"]["p50"], out["c"]["p90"], out["c"]["p99"]) == (1, 1, 100)


def test_winnow_guarantee_and_short_docs(spark):
    """Winnowing guarantee: any shared substring of length >= k + w - 1
    produces at least one shared fingerprint."""
    from ocr_spark.functions.dedup import winnow_fingerprints

    shared = "abcdefghij"           # 10 >= k + w - 1 = 6
    rows = [
        (0, f"xxx {shared} yyy"),
        (1, f"zz1 w {shared} qq17"),
        (2, "mnopqrstuvwxyz"),       # unrelated content
        (3, "abcd"),                 # exactly k chars -> one fingerprint
        (4, "abc"),                  # < k chars -> none
        (5, ""),                     # empty -> none
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df, "doc_id", "text", k=4, w=3).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    assert len(by_doc[3]) == 1
    assert 4 not in by_doc and 5 not in by_doc
    # (doc, fp) rows are distinct
    assert len(fps) == sum(len(s) for s in by_doc.values())


def test_winnow_pairs_detects_overlap(spark):
    from ocr_spark.functions.dedup import winnow_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, f"intro paragraph alpha. {quote} closing alpha."),
        (1, f"different opener beta! {quote} beta tail words."),
        (2, "completely unrelated content about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in winnow_pairs(df, "doc_id", "text", k=8, w=4,
                                 max_df=3, min_shared=2).collect()}
    assert (0, 1) in out and out[(0, 1)] >= 2
    assert all(p == (0, 1) for p in out)
    # partition invariance
    again = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in winnow_pairs(df.repartition(7), "doc_id", "text", k=8,
                                   w=4, max_df=3, min_shared=2).collect()}
    assert again == out


def test_chunk_documents_coverage_and_overlap(spark):
    from ocr_spark.functions.curation import chunk_documents

    text50 = " ".join(f"t{i}" for i in range(1, 51))
    rows = [(0, text50), (1, "short doc"), (2, ""), (3, "   ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text",
                          chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["doc"], r["chunk_id"])):
        by_doc.setdefault(r["doc"], []).append(r)
    # empty / whitespace docs produce nothing
    assert 2 not in by_doc and 3 not in by_doc
    # short doc -> exactly one chunk covering everything
    (c,) = by_doc[1]
    assert c["n_tokens"] == 2 and c["chunk_text"] == "short doc"
    # 50 tokens, chunk 32, stride 24 -> 2 chunks
    c0, c1 = by_doc[0]
    assert (c0["start_tok"], c0["n_tokens"]) == (1, 32)
    assert (c1["start_tok"], c1["n_tokens"]) == (25, 26)
    # consecutive chunks share exactly `overlap` tokens
    w0 = c0["chunk_text"].split(" ")
    w1 = c1["chunk_text"].split(" ")
    assert w0[-8:] == w1[:8]
    # every token covered, in order
    assert w0 + w1[8:] == text50.split(" ")
    # zero-shuffle plan
    plan = chunk_documents(df, "doc_id", "text")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest
    from ocr_spark.functions.curation import chunk_documents

    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=8)


def test_temperature_sample_rebalances_toward_low_resource(spark):
    from ocr_spark.functions.curation import temperature_sample

    # 'big' has 16x the token mass of 'small' -> sqrt shares 4:1 ->
    # small's rate must be 1.0 (most upweighted) and big's sqrt(1/16)=0.25
    rows = ([(i, "big", "w " * 16) for i in range(200)]
            + [(1000 + i, "small", "w ") for i in range(200)])
    df = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows], ["doc_id", "lang", "text"])
    out = temperature_sample(df, "doc_id", "lang", "text").collect()
    assert len(out) == 400
    rates = {r["stratum"]: r["rate"] for r in out}
    assert rates["small"] == 1.0
    assert rates["big"] == 0.25
    # every small doc kept; big docs kept at ~rate (hash draw, deterministic)
    kept_small = [r for r in out if r["stratum"] == "small" and r["keep"] == 1]
    assert len(kept_small) == 200
    kept_big = sum(r["keep"] for r in out if r["stratum"] == "big")
    assert 30 <= kept_big <= 70   # ~50 expected at rate 0.25
    # partition invariance
    again = {r["doc"]: r["keep"] for r in temperature_sample(
        df.repartition(11), "doc_id", "lang", "text").collect()}
    assert again == {r["doc"]: r["keep"] for r in out}


def test_temperature_sample_single_stratum_keeps_all(spark):
    from ocr_spark.functions.curation import temperature_sample

    df = spark.createDataFrame(
        [(i, "only", "a b c") for i in range(20)], ["doc_id", "lang", "text"])
    out = temperature_sample(df, "doc_id", "lang", "text").collect()
    assert all(r["rate"] == 1.0 and r["keep"] == 1 for r in out)


def test_select_under_budget_band_semantics(spark):
    from ocr_spark.functions.curation import select_under_budget

    # band 3: 40 tokens; band 2: 40; band 1: 40. budget 100 ->
    # bands 3+2 fully kept (80), band 1 filled at rate (100-80)/40 = 0.5
    rows = ([(i, 10, 3) for i in range(4)]
            + [(10 + i, 10, 2) for i in range(4)]
            + [(20 + i, 10, 1) for i in range(4)]
            + [(30 + i, 10, 0) for i in range(4)])
    df = spark.createDataFrame(rows, ["doc_id", "n_tok", "band"])
    out = {r["doc"]: r.asDict() for r in select_under_budget(
        df, "doc_id", "n_tok", "band", 100).collect()}
    assert len(out) == 16
    for i in range(8):
        doc = i if i < 4 else 10 + i - 4
        assert out[doc]["rate"] == 1.0 and out[doc]["keep"] == 1
    for i in range(4):
        assert out[20 + i]["rate"] == 0.5
    for i in range(4):
        assert out[30 + i]["rate"] == 0.0 and out[30 + i]["keep"] == 0
    # kept tokens never exceed budget by more than the boundary band's
    # hash-draw variance; full bands alone are exactly 80
    full = sum(r["n_tokens"] for r in out.values() if r["rate"] == 1.0)
    assert full == 80
    # partition invariance
    again = {r["doc"]: r["keep"] for r in select_under_budget(
        df.repartition(7), "doc_id", "n_tok", "band", 100).collect()}
    assert again == {d: r["keep"] for d, r in out.items()}


def test_select_under_budget_all_fit(spark):
    from ocr_spark.functions.curation import select_under_budget

    df = spark.createDataFrame(
        [(i, 5, i % 3) for i in range(9)], ["doc_id", "n_tok", "band"])
    out = select_under_budget(df, "doc_id", "n_tok", "band", 1000).collect()
    assert all(r["rate"] == 1.0 and r["keep"] == 1 for r in out)


def test_keep_best_representative(spark):
    from ocr_spark.functions.dedup import keep_best_representative

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (10, 10), (11, 10)],
        ["node", "component"])
    qual = spark.createDataFrame(
        [(1, 500), (2, 900), (3, 900), (7, 100), (10, 400), (11, 800)],
        ["node", "quality_micro"])
    out = {r["node"]: r.asDict()
           for r in keep_best_representative(comp, qual).collect()}
    # highest quality wins; tie (2 vs 3 at 900) -> smallest node id
    assert out[2]["keep"] == 1 and out[3]["keep"] == 0 and out[1]["keep"] == 0
    # singleton keeps itself
    assert out[7]["keep"] == 1
    # quality beats id: 11 > 10 by quality
    assert out[11]["keep"] == 1 and out[10]["keep"] == 0
    # exactly one keeper per component
    keepers = {}
    for r in out.values():
        keepers[r["component"]] = keepers.get(r["component"], 0) + r["keep"]
    assert all(v == 1 for v in keepers.values())
    # partition invariance
    again = {r["node"]: r["keep"] for r in keep_best_representative(
        comp.repartition(5), qual.repartition(3)).collect()}
    assert again == {n: r["keep"] for n, r in out.items()}


def test_build_postings(spark):
    from ocr_spark.functions.curation import build_postings

    rows = [(10, "alpha beta"), (2, "alpha alpha gamma"), (1, "alpha")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["term"]: r.asDict()
           for r in build_postings(df, "doc_id", "text", max_postings=2).collect()}
    # df counts distinct docs (alpha tf=2 in doc 2 counts once)
    assert out["alpha"]["df"] == 3
    # postings numerically sorted and capped at 2
    assert out["alpha"]["postings"] == "1,2"
    assert out["beta"]["postings"] == "10" and out["beta"]["df"] == 1
    assert out["gamma"]["postings"] == "2"


def test_bm25_ranking_semantics(spark):
    import math
    from ocr_spark.functions.curation import bm25_topk

    rows = [
        (0, "spark spark spark"),          # high tf, short doc
        (1, "spark " + "filler " * 50),    # tf 1, long doc -> penalized
        (2, "window"),                     # rare term -> higher idf
        (3, "filler only document"),       # no query terms -> score 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r.asDict() for r in bm25_topk(
        df, "doc_id", "text", terms=("spark", "window"), k=10).collect()}
    # docs containing no query term are not retrieved
    assert 3 not in out
    # doc 0 (tf 3, short) outranks doc 1 (tf 1, long)
    assert out[0]["score"] > out[1]["score"] > 0
    assert out[0]["rank"] < out[1]["rank"]
    # hand-computed score for doc 2: tf=1, df=1, N=4, dl=1, avgdl=(3+51+1+3)/4
    n, dfq, tf, dl, avgdl = 4, 1, 1, 1, (3 + 51 + 1 + 3) / 4
    idf = math.log((n - dfq + 0.5) / (dfq + 0.5) + 1.0)
    want = round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)), 6)
    assert abs(out[2]["score"] - want) < 1e-9
    # ranks dense from 1 over the retrieved docs
    assert sorted(r["rank"] for r in out.values()) == [1, 2, 3]


def test_snapshot_diff_statuses(spark):
    from ocr_spark.functions.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        ["doc_id", "text"])
    out = {r["doc"]: r["status"]
           for r in snapshot_diff(old, new, "doc_id", "text").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_profile_columns(spark):
    from pyspark.sql import functions as F
    from ocr_spark.functions.curation import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, -2.0), (4, "b", 1.5)],
        ["id", "s", "v"])
    out = {r["col"]: r.asDict() for r in profile_columns(df, [
        ("id", F.col("id")), ("s", None), ("v", F.col("v"))]).collect()}
    assert all(r["n"] == 4 for r in out.values())
    assert out["id"]["n_nulls"] == 0 and out["id"]["n_distinct"] == 4
    assert out["id"]["min_num"] == 1.0 and out["id"]["max_num"] == 4.0
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_num"] is None and out["s"]["max_num"] is None
    assert out["v"]["n_nulls"] == 1 and out["v"]["n_distinct"] == 2
    assert out["v"]["min_num"] == -2.0 and out["v"]["max_num"] == 1.5


def test_hll_distinct_accuracy_and_merge_property(spark):
    from ocr_spark.functions.curation import hll_distinct

    df = spark.createDataFrame(
        [(i % 5000,) for i in range(20000)], ["v"])  # 5000 distinct, 4x dup
    (row,) = hll_distinct(df, "v", b=8).collect()
    assert row["exact_distinct"] == 5000
    # HLL standard error at m=256 is ~6.5%; allow 3 sigma
    assert abs(row["est_distinct"] / 5000 - 1) < 0.2
    # duplication-invariance (the merge/max property): same registers
    (row2,) = hll_distinct(
        spark.createDataFrame([(i,) for i in range(5000)], ["v"]),
        "v", b=8).collect()
    assert row2["sum_scaled"] == row["sum_scaled"]
    assert row2["est_distinct"] == row["est_distinct"]
    # partition invariance
    (row3,) = hll_distinct(df.repartition(13), "v", b=8).collect()
    assert row3["sum_scaled"] == row["sum_scaled"]


def test_zorder_locality(spark):
    """Morton keys: known interleavings and quadrant locality."""
    from ocr_spark.queries.extraction import _zorder_expr
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], ["x", "y"])
    out = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y",
        F.expr(_zorder_expr("x", "y", 3, "div")).alias("z")).collect()}
    # hand-checked Morton values
    assert out[(0, 0)] == 0 and out[(1, 0)] == 1 and out[(0, 1)] == 2
    assert out[(1, 1)] == 3 and out[(2, 0)] == 4 and out[(0, 2)] == 8
    assert out[(7, 7)] == 63
    # bijective over the 8x8 grid
    assert sorted(out.values()) == list(range(64))
    # quadrant locality: all (x<4, y<4) keys precede every (x>=4, y>=4) key
    q00 = [z for (x, y), z in out.items() if x < 4 and y < 4]
    q11 = [z for (x, y), z in out.items() if x >= 4 and y >= 4]
    assert max(q00) < min(q11)


def test_unigram_kl_orders_outliers(spark):
    import math
    from ocr_spark.functions.curation import unigram_kl

    # 9 docs share a vocabulary; 1 doc uses disjoint rare words -> max KL
    rows = [(i, "alpha beta gamma delta") for i in range(9)]
    rows.append((9, "zeta eta theta iota"))
    rows.append((10, ""))  # empty -> kl NULL, zero tokens
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r.asDict()
           for r in unigram_kl(df, "doc_id", "text").collect()}
    assert out[10]["n_tokens"] == 0 and out[10]["kl"] is None
    # common docs all share one KL value; outlier strictly higher
    common = {out[i]["kl"] for i in range(9)}
    assert len(common) == 1
    assert out[9]["kl"] > next(iter(common))
    # hand-check the outlier: each word tf=1, dl=4, cf=1, T=40
    # kl = 4 * (1/4) * ln((1*40)/(4*1)) = ln(10)
    want = round(round(math.log(40 / 4) * 1e6) * 4 / 4 / 1e6, 6)
    assert abs(out[9]["kl"] - want) < 1e-9


def test_fk_violations_counts(spark):
    from ocr_spark.functions.curation import fk_violations

    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    child = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 9), (4, 9), (5, 7), (6, None)],
        ["id", "fk"])
    (row,) = fk_violations(child, "fk", parent, "pk", "c->p").collect()
    assert row["relationship"] == "c->p"
    assert row["n_rows"] == 6
    # orphans: two 9s, one 7, one NULL fk
    assert row["n_orphans"] == 4
    # distinct orphan keys ignore NULL: {9, 7}
    assert row["n_orphan_keys"] == 2
    # clean relationship reports zeros
    clean = spark.createDataFrame([(1, 2)], ["id", "fk"])
    (r2,) = fk_violations(clean, "fk", parent, "pk", "ok").collect()
    assert r2["n_orphans"] == 0 and r2["n_orphan_keys"] == 0
