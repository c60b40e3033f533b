"""Seeded inputs, the oracle golden, and the correctness gate.

Every corpus comes from ``ocr_spark.fixtures.corpus.make_page`` at an index
offset derived from the workload seed, so one seed always yields the same
pages. Corpora and goldens are cached under the checkout's ``.perfbench/cache``
directory keyed by (workload, seed, size); generating them never sits inside
a timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import unicodedata

import pyarrow as pa
import pyarrow.parquet as pq

# Distinct seeds must never share pages; 10**6 indices per seed is more than
# any workload reads.
SEED_STRIDE = 1_000_000
# The warm-up corpus sits below every seed's range, so warming never touches
# the pages a run measures.
WARMUP_OFFSET = -SEED_STRIDE


def seed_offset(seed: int) -> int:
    return seed * SEED_STRIDE


def _page_tables(offset: int, n_pages: int,
                 with_payloads: bool) -> tuple[pa.Table, pa.Table | None]:
    from ocr_spark.fixtures.corpus import make_page, render_payload

    rows = [make_page(offset + i) for i in range(n_pages)]
    pages = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    if not with_payloads:
        return pages, None
    pay = [r for r in rows if r["payload_text"] is not None]
    payloads = pa.table({
        "url": pa.array([r["url"] for r in pay], pa.string()),
        "payload": pa.array([render_payload(r["payload_text"]) for r in pay], pa.binary()),
    })
    return pages, payloads


class Corpus:
    """One generated input set on disk.

    ``pages`` is a parquet file (batch job) or a directory of parquet files
    (stream backlog); ``payloads`` is None when the workload carries none."""

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "corpus.json")) as f:
            meta = json.load(f)
        self.pages = os.path.join(root, meta["pages"])
        self.payloads = os.path.join(root, meta["payloads"]) if meta["payloads"] else None
        self.files = [os.path.join(root, p) for p in meta["files"]]

    def golden(self) -> dict[str, list[str]]:
        """url -> [text sha256 (NFC), doc_type, decision] from the oracle."""
        with open(os.path.join(self.root, "golden.json")) as f:
            return json.load(f)


def build_corpus(cache_dir: str, key: str, offset: int, n_pages: int,
                 with_payloads: bool, n_files: int, procs: int) -> Corpus:
    """Generate (or reuse) a corpus plus its oracle golden.

    n_files > 1 splits the pages into that many parquet files under
    ``pages/`` for a stream backlog; otherwise pages land in one file."""
    root = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(root, "corpus.json")):
        return Corpus(root)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pages, payloads = _page_tables(offset, n_pages, with_payloads)
    if n_files > 1:
        os.makedirs(os.path.join(tmp, "pages"))
        per = -(-n_pages // n_files)
        files = [f"pages/part-{k:04d}.parquet" for k in range(n_files)]
        for k, rel in enumerate(files):
            pq.write_table(pages.slice(k * per, per), os.path.join(tmp, rel))
        pages_rel = "pages"
    else:
        files = ["pages.parquet"]
        pq.write_table(pages, os.path.join(tmp, "pages.parquet"), row_group_size=2048)
        pages_rel = "pages.parquet"
    if payloads is not None:
        pq.write_table(payloads, os.path.join(tmp, "payloads.parquet"), row_group_size=2048)
    golden = oracle_golden([os.path.join(tmp, rel) for rel in files],
                           os.path.join(tmp, "payloads.parquet") if payloads is not None else None,
                           n_pages, procs, tmp)
    with open(os.path.join(tmp, "golden.json"), "w") as f:
        json.dump(golden, f)
    with open(os.path.join(tmp, "corpus.json"), "w") as f:
        json.dump({"pages": pages_rel, "files": files,
                   "payloads": "payloads.parquet" if payloads is not None else None}, f)
    os.rename(tmp, root)
    return Corpus(root)


# -- query tables ----------------------------------------------------------------

# One query per family of ocr_spark.queries.QUERIES: the in-row text family
# (word_stats, c4_filter, gopher_rules, pii_scrub), then dedup, similarity,
# graph and scoring. None of them is eager (their work runs at action time).
QUERY_SUBSET = ["word_stats", "c4_filter", "gopher_rules", "pii_scrub",
                "minhash_band_signatures", "cosine_topk", "host_pagerank",
                "score_and_decide"]

_VOCAB = ("join hash row batch scan column customer filter small slow merge order vector "
          "line table data agg value key stream window a spark part group big sort query "
          "fast the").split()


def build_query_tables(cache_dir: str) -> str:
    """Generate (or reuse) the ``documents``, ``embeddings`` and ``orders``
    tables the query subset reads: one parquet file per table, with the
    schema of the repo's sf test tables and about their sf0.01 shape. The
    tables are fixed: the workload seed does not change them."""
    import datetime
    import random

    n_docs, n_orders = 500, 1500
    root = os.path.join(cache_dir, f"query-tables-d{n_docs}-o{n_orders}")
    if os.path.exists(os.path.join(root, "orders.parquet")):
        return root
    rng = random.Random(20240101)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    texts = [" ".join(rng.choice(_VOCAB) if rng.random() > 0.005 else "dup"
                      for _ in range(rng.randint(10, 99))) for _ in range(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(["en", "zh", "es", "de", "fr"], [44, 15, 15, 14, 12],
                                     k=n_docs), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(tmp, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array([[rng.gauss(0.0, 0.125) for _ in range(64)]
                               for _ in range(n_docs)], pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_docs)], pa.int32()),
    }), os.path.join(tmp, "embeddings.parquet"))
    day0 = datetime.datetime(1995, 1, 1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(1500) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": pa.array(rng.choices("POF", k=n_orders), pa.string()),
        "o_totalprice": pa.array([round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)],
                                 pa.float64()),
        "o_orderdate": pa.array([day0 + datetime.timedelta(days=rng.randrange(2404))
                                 for _ in range(n_orders)], pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choices(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"], k=n_orders),
                                    pa.string()),
    }), os.path.join(tmp, "orders.parquet"))
    os.rename(tmp, root)
    return root


def query_matches_oracle(name: str, result, tables_dir: str) -> bool:
    """True when a query's collected pandas result equals its DuckDB twin
    (``ocr_spark.queries.ORACLE``) on the same tables: same columns, same
    rows in any order, compared the way the repo's oracle check compares."""
    import duckdb

    from ocr_spark.queries import ORACLE
    from scripts.check_oracle import canon

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, t + '.parquet')}'")
        want = con.execute(ORACLE[name]).fetchdf()
    finally:
        con.close()
    if sorted(result.columns) != sorted(want.columns) or len(result) != len(want):
        return False
    return canon(result).equals(canon(want))


def text_sha256(text: str) -> str:
    return hashlib.sha256(unicodedata.normalize("NFC", text).encode("utf-8")).hexdigest()


def _golden_worker(argv: list[str]) -> None:
    """Worker process: oracle rows of pages [lo, hi) of the page files,
    written as JSON to ``out``."""
    from ocr_spark.oracle.reference_semantics import process_page

    out, lo, hi, payloads_path, *files = argv
    pages = pa.concat_tables([pq.read_table(f, columns=["url", "html"]) for f in files])
    pages = pages.slice(int(lo), int(hi) - int(lo))
    blobs = {}
    if payloads_path != "-":
        pay = pq.read_table(payloads_path)
        blobs = dict(zip(pay.column("url").to_pylist(), pay.column("payload").to_pylist()))
    rows = {}
    for url, html in zip(pages.column("url").to_pylist(), pages.column("html").to_pylist()):
        r = process_page(html, blobs.get(url))
        rows[url] = [text_sha256(r["extracted_text"]), r["doc_type"], r["decision"]]
    with open(out, "w") as f:
        json.dump(rows, f)


def oracle_golden(files: list[str], payloads_path: str | None, n_pages: int, procs: int,
                  scratch: str) -> dict[str, list[str]]:
    """Per-url (text sha256, doc_type, decision) from the pure-Python oracle,
    computed by at most ``procs`` worker processes. Each worker is started
    and waited for here, and killed if the golden cannot be completed. They
    are plain subprocesses: a multiprocessing spawn pool also starts a
    resource-tracker process that outlives the pool."""
    chunk = -(-n_pages // max(1, procs))
    workers = []
    try:
        for k, lo in enumerate(range(0, n_pages, chunk)):
            out = os.path.join(scratch, f"golden-{k}.json")
            cmd = [sys.executable, os.path.abspath(__file__), "--golden-worker", out, str(lo),
                   str(lo + chunk), payloads_path or "-", *files]
            workers.append((subprocess.Popen(cmd), out))
        golden: dict[str, list[str]] = {}
        for proc, out in workers:
            if proc.wait() != 0:
                raise RuntimeError(f"oracle golden worker exited with {proc.returncode}")
            with open(out) as f:
                golden.update(json.load(f))
            os.remove(out)
        return golden
    finally:
        for proc, _ in workers:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


class GateResult:
    """Outcome of checking committed rows against the golden."""

    def __init__(self) -> None:
        self.checked = 0       # golden urls compared
        self.text_ok = 0
        self.decision_ok = 0
        self.lost = 0          # golden urls with no committed row
        self.duplicated = 0    # extra committed rows for one url
        self.unexpected = 0    # committed urls outside the golden
        self.audit_mismatch = 0

    def add(self, other: "GateResult") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)

    def as_dict(self) -> dict[str, int]:
        return dict(vars(self))

    @property
    def ok(self) -> bool:
        return (self.text_ok == self.checked and self.decision_ok == self.checked
                and not (self.lost or self.duplicated or self.unexpected or self.audit_mismatch))

    def rates(self) -> dict[str, float]:
        n = max(1, self.checked)
        return {"byte_identity_rate": self.text_ok / n,
                "decision_match_rate": self.decision_ok / n}


def manifest_path(table_path: str) -> str | None:
    """Path of the current snapshot manifest, or None before the first commit."""
    manifest = os.path.join(table_path, "_manifest")
    pointer = os.path.join(manifest, "current")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        return os.path.join(manifest, f.read().strip())


def committed_rows(table_path: str) -> tuple[pa.Table, list[dict]]:
    """Rows and audit of a SnapshotTable's current snapshot, read with pyarrow."""
    cols = ["url", "extracted_text", "doc_type", "decision"]
    path = manifest_path(table_path)
    snap = {"data_files": [], "audit": []}  # nothing committed yet
    if path is not None:
        with open(path) as f:
            snap = json.load(f)
    # A data file the snapshot names but the disk lacks holds lost rows: the
    # gate counts them through the golden and the audit, so skip it here.
    files = [os.path.join(table_path, p) for p in snap["data_files"]]
    parts = [pq.read_table(p, columns=cols) for p in files if os.path.exists(p)]
    rows = pa.concat_tables(parts) if parts else \
        pa.table({c: pa.array([], pa.string()) for c in cols})
    return rows, snap["audit"]


def check_table(table_path: str, golden: dict[str, list[str]]) -> tuple[GateResult, set[str]]:
    """Compare every committed url with the golden; every golden url must
    appear exactly once and the audit doc counts must cover the rows.

    Returns the tallies and the urls that failed (lost, duplicated, or with
    a text or decision mismatch)."""
    g = GateResult()
    bad: set[str] = set()
    rows, audit = committed_rows(table_path)
    seen: set[str] = set()
    cols = [rows.column(c).to_pylist() for c in ("url", "extracted_text", "doc_type", "decision")]
    for url, text, doc_type, decision in zip(*cols):
        if url in seen:
            g.duplicated += 1
            bad.add(url)
            continue
        seen.add(url)
        want = golden.get(url)
        if want is None:
            g.unexpected += 1
            continue
        g.checked += 1
        text_ok = text is not None and text_sha256(text) == want[0]
        decision_ok = doc_type == want[1] and decision == want[2]
        g.text_ok += text_ok
        g.decision_ok += decision_ok
        if not (text_ok and decision_ok):
            bad.add(url)
    lost = golden.keys() - seen
    g.lost = len(lost)
    g.checked += g.lost
    bad |= lost
    g.audit_mismatch = int(sum(a["doc_count"] for a in audit) != rows.num_rows)
    return g, bad


if __name__ == "__main__":
    if sys.argv[1:2] != ["--golden-worker"]:
        sys.exit("usage: workload.py --golden-worker OUT LO HI PAYLOADS|- PAGE_FILE...")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _golden_worker(sys.argv[2:])
