"""Flagship composition at 100x: the FULL extraction pipeline (DOM strip +
OCR decode + span merge) over a 500k-page corpus, timed end to end and
verified byte-identical per url against the
pure-Python reference oracle over ALL 500k pages (round-4 verdict item 7:
golden_pipeline was driver-green at 300 pages and benched at 24k; this
proves the composition — not just its parts — at scale).

Protocol:
1. corpus: fixtures/corpus.write_corpus(n) — deterministic per index, the
   same generator the 300-page goldens pin.
2. timed: run_pipeline over the corpus parquet forced to a noop sink, best
   of 3 (same best-of discipline as bench.py); every run does the whole
   job — scan, payload join, salt, the one document stage (parse +
   recognize + score).
3. identity: pipeline (url, sha256(NFC(text))) for all 500k rows compared
   against the oracle shas computed by a 30-process pool over page
   indices — full coverage, not a sample.

Writes BENCH_golden_500k.json. Usage: python scripts/golden_500k.py [n]
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import sys
import time
import unicodedata

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_chunk(args: tuple[int, int]) -> list[tuple[str, str]]:
    lo, hi = args
    from ocr_spark.fixtures.corpus import make_page, render_payload
    from ocr_spark.oracle.reference_semantics import process_page

    out = []
    for i in range(lo, hi):
        p = make_page(i)
        blob = render_payload(p["payload_text"]) if p["payload_text"] else None
        r = process_page(p["html"], blob)
        sha = hashlib.sha256(
            unicodedata.normalize("NFC", r["extracted_text"]).encode("utf-8")
        ).hexdigest()
        out.append((p["url"], sha))
    return out


def main() -> None:
    from bench import corpus_path
    from ocr_spark.pipeline import run_pipeline
    from ocr_spark.session import default_cores, get_spark

    cores = default_cores()
    spark = get_spark(app_name="golden_500k", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.monotonic()
    d = corpus_path(N_PAGES)
    gen_s = time.monotonic() - t0
    pages = os.path.join(d, "pages.parquet")
    payloads = os.path.join(d, "payloads.parquet")

    # one scan split per ~2 tasks/core (same rationale as bench.py: the
    # corpus is byte-small but CPU-dense; default maxPartitionBytes would
    # scan it as a handful of tasks)
    size = os.path.getsize(pages)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(1 << 20, size // (cores * 2))))

    df = run_pipeline(spark, pages, payloads)

    # warm-up (python workers + codegen), then best-of-3 timed forces
    _force(run_pipeline(spark, os.path.join(corpus_path(2000), "pages.parquet"),
                        os.path.join(corpus_path(2000), "payloads.parquet")))
    runs = []
    for _ in range(3):
        # same heap-state isolation as bench.py: without a full GC between
        # reps the shared JVM accumulates garbage from the previous 500k-row
        # force and successive runs READ SLOWER (measured 36 -> 67 -> 108 s
        # without GC vs 47 -> 35 -> 29 s with it)
        spark._jvm.System.gc()
        t0 = time.monotonic()
        _force(df)
        runs.append(round(time.monotonic() - t0, 2))
    secs = min(runs)

    # full-coverage identity: pipeline shas vs oracle pool
    from pyspark.sql import functions as F

    from ocr_spark.functions.curation import _nfc

    got = {r["url"]: r["sha"] for r in df.select(
        "url",
        F.sha2(F.encode(_nfc(F.col("extracted_text")), "UTF-8"), 256)
        .alias("sha")).collect()}

    t0 = time.monotonic()
    procs = max(4, cores - 2)
    chunk = (N_PAGES + procs * 4 - 1) // (procs * 4)
    spans = [(lo, min(lo + chunk, N_PAGES))
             for lo in range(0, N_PAGES, chunk)]
    with mp.Pool(procs) as pool:
        expected = dict(kv for part in pool.map(_oracle_chunk, spans)
                        for kv in part)
    oracle_s = time.monotonic() - t0

    matches = sum(1 for u, sha in expected.items() if got.get(u) == sha)
    record = {
        "n_pages": N_PAGES,
        "corpus_gen_s": round(gen_s, 1),
        "pipeline_runs_s": runs,
        "pipeline_best_s": secs,
        "docs_per_sec": round(N_PAGES / secs, 1),
        "identity": {
            "checked_urls": len(expected),
            "matching_urls": matches,
            "byte_identity_rate": round(matches / len(expected), 6),
            "oracle_pool_s": round(oracle_s, 1),
        },
        "cores": cores,
    }
    path = os.path.join(REPO, "BENCH_golden_500k.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
