"""Snapshot-committed table layer: Iceberg semantics on plain parquet.

This sandbox's PySpark ships no Iceberg runtime jar (SURVEY.md §7.0), so the
pipeline codes against this thin layer instead: an output table is a
directory of immutable parquet data files plus a `_manifest/` of JSON
snapshots; `current` is flipped by atomic rename, so a commit is all-or-
nothing exactly like an Iceberg snapshot swap. On a cluster with Iceberg
available, `commit()`/`uncommitted()` map 1:1 onto an Iceberg append + an
anti-join against the table's url column.

Resume model (north rule), one rule for the batch job and the stream: a
run anti-joins its input urls against the committed url column
(`uncommitted`; a NULL url never matches, so it is dropped), processes only
the remainder, and commits the new data files together with one
audit/lineage row per bucket it wrote (bucket
`part_key = pmod(xxhash64(url), n_buckets)`; partition_id, url_range,
doc_count, sha256 of the url-ordered per-url text hashes). The audit rows
are `lineage_digest` over the files the run wrote, so they describe exactly
the bytes the snapshot references; a run that writes no row appends no
snapshot. A stream micro-batch is the same call, so a replayed batch (or a
new checkpoint over old input) commits only the urls the table lacks.
A run that fails before the manifest flip deletes its run directory and
leaves the table at the previous snapshot — rerunning is idempotent.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def part_key(col, n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def content_digest(url_col: str, text_col: str):
    """The per-partition lineage digest: sha256 over the url-sorted
    concatenation of per-url sha256(text). Order-stable at any
    parallelism (the array_sort pins the order inside the agg buffer) and
    null-total (missing text hashes as '')."""
    return F.sha2(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(url_col).alias("u"),
                            F.sha2(F.coalesce(F.col(text_col), F.lit("")),
                                   256).alias("h"),
                        )
                    )
                ),
                lambda s: s["h"],
            ),
        ),
        256,
    )


def lineage_digest(df: DataFrame, url_col: str, text_col: str,
                   bucket_col: str) -> DataFrame:
    """The audit rows commit() writes: per bucket, (bucket, doc_count,
    url_min, url_max, content_sha256). commit() runs it over the files it
    just wrote; verifying a snapshot against its audit is one more run of
    it over the snapshot's data files.

    Shape: one hash agg keyed on the bucket; the agg buffer holds
    (url, 32-byte hash) pairs — text itself never enters the buffer, so a
    bucket's state is bounded by its doc count times ~100 bytes, the same
    bound the commit path relies on."""
    return (
        df.groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.min(url_col).alias("url_min"),
            F.max(url_col).alias("url_max"),
            content_digest(url_col, text_col).alias("content_sha256"),
        )
    )


class SnapshotTable:
    def __init__(self, path: str, n_buckets: int = DEFAULT_BUCKETS):
        self.path = path
        self.n_buckets = n_buckets
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "_manifest")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _current_pointer(self) -> str:
        return os.path.join(self.manifest_dir, "current")

    def current_snapshot(self) -> dict:
        ptr = self._current_pointer()
        if not os.path.exists(ptr):
            return {"snapshot_id": 0, "data_files": [], "audit": []}
        with open(ptr) as f:
            snap_name = f.read().strip()
        with open(os.path.join(self.manifest_dir, snap_name)) as f:
            return json.load(f)

    def snapshot(self, snapshot_id: int) -> dict:
        """Time travel: load a specific committed snapshot (Iceberg
        ``VERSION AS OF`` analog). Snapshots are immutable JSON manifests, so
        any historical state stays readable until expired."""
        path = os.path.join(self.manifest_dir, f"snapshot-{snapshot_id:06d}.json")
        with open(path) as f:
            return json.load(f)

    def read_at(self, spark: SparkSession, snapshot_id: int) -> DataFrame | None:
        """Read the table AS OF a snapshot id — only the data files that
        snapshot referenced."""
        files = self.snapshot(snapshot_id)["data_files"]
        if not files:
            return None
        return spark.read.parquet(*[os.path.join(self.path, f) for f in files])

    def audit_rows(self) -> list[dict]:
        return self.current_snapshot()["audit"]

    def read(self, spark: SparkSession) -> DataFrame | None:
        files = self.current_snapshot()["data_files"]
        if not files:
            return None
        return spark.read.parquet(*[os.path.join(self.path, f) for f in files])

    def uncommitted(self, spark: SparkSession, pages: DataFrame) -> DataFrame:
        """The rows of ``pages`` whose url the table does not hold: one
        anti-join against the committed url column, read with an explicit
        schema so no schema-inference job runs. Rows with a NULL url never
        match the anti-join, so they are dropped rather than committed again
        on every rerun."""
        pages = pages.filter(F.col("url").isNotNull())
        files = self.current_snapshot()["data_files"]
        if not files:
            return pages
        committed = spark.read.schema("url string").parquet(
            *[os.path.join(self.path, f) for f in files])
        return pages.join(committed, "url", "left_anti")

    # -- commit path ----------------------------------------------------------

    def commit(self, df: DataFrame) -> list[dict]:
        """Write df (url, extracted_text, ...) as a new snapshot; returns the
        audit rows this commit appended. ``part_key`` is computed from the
        table's own bucket count, replacing any column of that name. Data
        lands in an immutable run directory first; the manifest pointer flips
        last (atomic rename). A df with no rows appends no snapshot and
        returns ``[]``. Whatever raises before the flip deletes the run
        directory and re-raises, so the table keeps its previous snapshot."""
        run_id = uuid.uuid4().hex[:12]
        rel_run_dir = os.path.join("data", f"run-{run_id}")
        run_dir = os.path.join(self.path, rel_run_dir)
        try:
            (df.withColumn("part_key", part_key(F.col("url"), self.n_buckets))
             .write.mode("overwrite").parquet(run_dir))
            # Lineage of the bytes just written, read back with an explicit
            # schema so no schema-inference job runs.
            written = df.sparkSession.read.schema(
                "url string, extracted_text string, part_key int").parquet(run_dir)
            digests = lineage_digest(written, "url", "extracted_text", "part_key").collect()
            if not digests:
                shutil.rmtree(run_dir)
                return []

            prev = self.current_snapshot()
            new_files = [
                os.path.join(rel_run_dir, f)
                for f in sorted(os.listdir(run_dir))
                if f.endswith(".parquet")
            ]
            appended = [
                {
                    "partition_id": int(r["bucket"]),
                    "url_min": r["url_min"],
                    "url_max": r["url_max"],
                    "doc_count": int(r["doc_count"]),
                    "content_sha256": r["content_sha256"],
                    "run_id": run_id,
                }
                for r in sorted(digests, key=lambda r: int(r["bucket"]))
            ]
            snap = {
                "snapshot_id": prev["snapshot_id"] + 1,
                "parent_id": prev["snapshot_id"],
                "data_files": prev["data_files"] + new_files,
                "audit": prev["audit"] + appended,
                "committed_at": time.time(),
            }
            snap_name = f"snapshot-{snap['snapshot_id']:06d}.json"
            snap_path = os.path.join(self.manifest_dir, snap_name)
            tmp = snap_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(snap, f, indent=1)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, snap_path)

            ptr_tmp = self._current_pointer() + ".tmp"
            with open(ptr_tmp, "w") as f:
                f.write(snap_name)
                f.flush()
                os.fsync(f.fileno())
            os.rename(ptr_tmp, self._current_pointer())  # the atomic commit point
            return appended
        except BaseException:
            shutil.rmtree(run_dir, ignore_errors=True)
            raise


def run_and_commit(
    spark: SparkSession,
    pages: str | DataFrame,
    out_table: SnapshotTable,
    payloads_path: str | None = None,
) -> dict:
    """Full job over a pages parquet path or DataFrame: drop committed urls
    -> pipeline -> commit. Returns the run's wall and the docs this run
    committed; a rerun over committed input commits nothing and appends no
    snapshot. The stream's micro-batch body is this call."""
    from ocr_spark.pipeline import run_pipeline

    t0 = time.time()
    if isinstance(pages, str):
        pages = spark.read.parquet(pages)
    fresh = out_table.uncommitted(spark, pages)
    appended = out_table.commit(run_pipeline(spark, fresh, payloads_path))
    return {
        "elapsed_sec": time.time() - t0,
        "docs_committed": sum(a["doc_count"] for a in appended),
    }
