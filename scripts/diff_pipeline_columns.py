"""Column-by-column diff of the extraction job's output between two checkouts.

Writes one ``fixtures.corpus.write_corpus(N)`` corpus, runs each checkout's
``run_pipeline`` over it in its own process (``PYTHONPATH`` set to that
checkout, so Spark's Python workers import the same code as the driver),
and prints, per output column, how many urls differ, with two examples
each. Strings, arrays and maps compare exactly; doubles within 1e-9. Exit
status 1 when any column or the url set differs.

Usage: python scripts/diff_pipeline_columns.py ROOT_A ROOT_B [N]   (N=4000)
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import tempfile


def run_one(corpus: str, out: str) -> None:
    """Worker: this checkout's run_pipeline over the corpus, pickled as
    url -> {column: value}."""
    from ocr_spark.pipeline import run_pipeline
    from ocr_spark.session import get_spark

    spark = get_spark(app_name="diff_pipeline_columns", cores=4, shuffle_partitions=8)
    try:
        df = run_pipeline(spark, os.path.join(corpus, "pages.parquet"),
                          os.path.join(corpus, "payloads.parquet"))
        rows = {r["url"]: r.asDict() for r in df.collect()}
    finally:
        spark.stop()
    with open(out, "wb") as f:
        pickle.dump(rows, f)


def _equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-9
    return a == b


def main(root_a: str, root_b: str, n: int) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ocr_spark.fixtures.corpus import write_corpus

    with tempfile.TemporaryDirectory(prefix="diff_pipeline_") as tmp:
        corpus = os.path.join(tmp, "corpus")
        write_corpus(corpus, n)
        a, b = ({}, {})
        for root, rows in ((root_a, a), (root_b, b)):
            out = os.path.join(tmp, "rows.pkl")
            subprocess.run([sys.executable, os.path.abspath(__file__), "--run", corpus, out],
                           env=dict(os.environ, PYTHONPATH=os.path.abspath(root)),
                           cwd=root, check=True)
            with open(out, "rb") as f:
                rows.update(pickle.load(f))
    urls = sorted(set(a) & set(b))
    bad = len(urls) != len(a) or len(urls) != len(b)
    print(f"{len(urls)} urls in both, {len(a) - len(urls)} only in A, "
          f"{len(b) - len(urls)} only in B")
    for col in dict.fromkeys([*a[urls[0]], *b[urls[0]]]) if urls else ():
        diffs = [u for u in urls if not _equal(a[u].get(col), b[u].get(col))]
        print(f"{col:24s} {len(diffs)} mismatches")
        for u in diffs[:2]:
            print(f"    {u}\n      A: {a[u].get(col)!r}\n      B: {b[u].get(col)!r}")
        bad |= bool(diffs)
    return int(bad)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--run"]:
        run_one(sys.argv[2], sys.argv[3])
    elif len(sys.argv) in (3, 4):
        sys.exit(main(sys.argv[1], sys.argv[2], int(sys.argv[3]) if len(sys.argv) == 4 else 4000))
    else:
        sys.exit(__doc__)
