"""spark-submit entry point: the production extraction job.

Usage (local sandbox):
    python -m ocr_spark.job --pages P.parquet --payloads Q.parquet --out /table

Usage (cluster):
    scripts/package.sh                      # builds dist/ocr_spark.zip
    spark-submit --py-files dist/ocr_spark.zip \\
        --conf spark.sql.shuffle.partitions=<2x cores> \\
        ocr_spark/job.py --pages s3://.../pages --out s3://.../extracted

Python workers fork from ``ocr_spark.pyworker`` (see session.get_spark),
which starts before a task adds ``--py-files`` to ``sys.path``. get_spark
hands the workers the driver's copy of the package, which executors on
other hosts do not have: there, also pass
``--conf spark.executorEnv.PYTHONPATH=ocr_spark.zip``.

Each invocation: read pages -> anti-join the urls the table already holds
(idempotent resume) -> salt repartition -> extraction pipeline -> snapshot
commit with per-partition lineage (tableio.SnapshotTable; Iceberg append on
clusters that ship the runtime jar). Re-running after a kill resumes from
the last committed snapshot; a run with no new url commits nothing. Prints
one JSON metrics line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    from ocr_spark.io.tableio import DEFAULT_BUCKETS, SnapshotTable, run_and_commit

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="input pages parquet (url, warc_ts, html, text, lang)")
    ap.add_argument("--payloads", default=None, help="optional payloads parquet (url, payload)")
    ap.add_argument("--out", required=True, help="output snapshot-table directory")
    ap.add_argument("--buckets", type=int, default=DEFAULT_BUCKETS,
                    help="lineage-bucket count of the audit rows")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] (default: $SPARK_GRAFT_CPUS, else the usable cores)")
    args = ap.parse_args(argv)

    from ocr_spark.session import get_spark

    spark = get_spark(app_name="ocr_spark_job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    table = SnapshotTable(args.out, n_buckets=args.buckets)
    metrics = run_and_commit(spark, args.pages, table, payloads_path=args.payloads)
    audit = table.audit_rows()
    docs = sum(a["doc_count"] for a in audit)
    print(json.dumps({
        **metrics,
        "snapshot_id": table.current_snapshot()["snapshot_id"],
        "total_docs_committed": docs,
        "docs_per_sec_this_run": round(
            metrics["docs_committed"] / max(metrics["elapsed_sec"], 1e-9), 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
